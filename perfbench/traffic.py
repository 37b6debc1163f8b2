"""Seeded traffic for the graft stream benchmark.

Writes the two inputs graft receives -- `EVENT_JSON` outcome-log files
(JSON lines in `StreamJobs.logSchema`) and a token-metadata table -- and
nothing else. The same seed always gives byte-identical files.

Traffic dimensions (why each one is there is recorded in BENCHMARK.json
and README.md):
  * ~1/3 of lines carry `EVENT_JSON:`; the rest are plain logs that the
    extract stage must reject cheaply.
  * ~2% of events fail NEP name validation and ~1% are truncated JSON,
    the reference's drop-and-log paths.
  * Events are NEP-171 `nft_mint`/`nft_transfer` and NEP-141
    `ft_transfer`/`ft_mint`; NEP-171 arrays hold 1-4 tokens.
  * Contracts are Zipf-skewed over 200 ids; two of the busiest are the
    config's blacklist.
  * ~80% of (contract, token) pairs have a metadata row.
"""

import json
import multiprocessing
import os
import random

CONTRACTS = 200
NFT_CONTRACTS = 120          # the rest are NEP-141 token contracts
TOKENS_PER_CONTRACT = 300
ZIPF_S = 1.1
EVENT_LINE_FRAC = 1 / 3
INVALID_NAME_FRAC = 0.02
TRUNCATED_FRAC = 0.01
METADATA_FRAC = 0.8
BLACKLIST_RANKS = (2, 6)     # Zipf ranks of the two blacklisted contracts

PLAIN_LOGS = (
    "Transfer {a} from {u} to {v}",
    "Refund {a} from {u} to {v}",
    "Account {u} registered",
    "Storage deposit of {a} yoctoNEAR for {u}",
)


class World:
    """Contracts, their Zipf weights, the blacklist and the metadata dim."""

    def __init__(self, seed):
        rng = random.Random(seed * 7919 + 1)
        names = [f"c{i:03d}.{'nft' if i < NFT_CONTRACTS else 'ft'}.near"
                 for i in range(CONTRACTS)]
        nft, ft = names[:NFT_CONTRACTS], names[NFT_CONTRACTS:]
        rng.shuffle(nft)
        rng.shuffle(ft)
        self.nft, self.ft = nft, ft
        self.nft_w = [1 / (r + 1) ** ZIPF_S for r in range(len(nft))]
        self.ft_w = [1 / (r + 1) ** ZIPF_S for r in range(len(ft))]
        self.blacklist = [nft[r] for r in BLACKLIST_RANKS]
        self.metadata = []
        for c in nft:
            for t in range(TOKENS_PER_CONTRACT):
                if rng.random() < METADATA_FRAC:
                    self.metadata.append({
                        "contract_account_id": c,
                        "token_id": f"t{t}",
                        "title": f"{c.split('.')[0]} #{t}",
                        "media": f"https://media.example/{c}/{t}.png",
                        "extra": json.dumps(
                            {"rarity": rng.choice(["common", "rare", "epic"]),
                             "level": rng.randrange(1, 50)},
                            separators=(",", ":")),
                    })


def _user(rng):
    return f"u{rng.randrange(5000)}.near"


def _payload(rng, world, nft_frac):
    """One event envelope as a dict, plus the contract that emits it."""
    if rng.random() < nft_frac:
        contract = rng.choices(world.nft, world.nft_w)[0]
        elems = []
        mint = rng.random() < 0.4
        for _ in range(1 if rng.random() < 0.8 else 2):
            tokens = [f"t{rng.randrange(TOKENS_PER_CONTRACT)}"
                      for _ in range(rng.randint(1, 4))]
            if mint:
                e = {"owner_id": _user(rng), "token_ids": tokens}
            else:
                e = {"old_owner_id": _user(rng), "new_owner_id": _user(rng),
                     "token_ids": tokens}
                if rng.random() < 0.1:
                    e["authorized_id"] = _user(rng)
            if rng.random() < 0.3:
                e["memo"] = f"memo {rng.randrange(1000)}"
            elems.append(e)
        event = "nft_mint" if mint else "nft_transfer"
        body = {"standard": "nep171", "version": "1.0.0", "event": event,
                "data": elems}
    else:
        contract = rng.choices(world.ft, world.ft_w)[0]
        amount = str(rng.randrange(1, 10 ** 12))
        if rng.random() < 0.7:
            event, e = "ft_transfer", {"old_owner_id": _user(rng),
                                       "new_owner_id": _user(rng),
                                       "amount": amount}
        else:
            event, e = "ft_mint", {"owner_id": _user(rng), "amount": amount}
        body = {"standard": "nep141", "version": "1.0.0", "event": event,
                "data": [e]}
    return body, contract


def _line(rng, world, nft_frac, receipt, height):
    if rng.random() < EVENT_LINE_FRAC:
        body, contract = _payload(rng, world, nft_frac)
        u = rng.random()
        if u < INVALID_NAME_FRAC:
            body["event"] = body["event"].replace("_", " ")
        text = json.dumps(body, separators=(",", ":"))
        if INVALID_NAME_FRAC <= u < INVALID_NAME_FRAC + TRUNCATED_FRAC:
            text = text[:rng.randrange(len(text) // 3, len(text) - 1)]
        log = "EVENT_JSON:" + text
    else:
        contract = rng.choices(world.nft + world.ft)[0]
        log = rng.choice(PLAIN_LOGS).format(
            a=rng.randrange(10 ** 6), u=_user(rng), v=_user(rng))
    return {"log": log, "receipt_id": receipt,
            "block_timestamp": 1_700_000_000_000_000_000 + height * 1_000_000_000,
            "block_height": height, "shard_id": height % 4,
            "contract_account_id": contract}


_world = None


def _set_world(seed):
    global _world
    _world = World(seed)


def _write_file(job):
    path, seed, f, lines_per_file, nft_frac = job
    world = _world
    rng = random.Random(f"{seed}:{f}")
    height = 100_000_000 + f * lines_per_file
    with open(path, "w") as out:
        for i in range(lines_per_file):
            if i % 7 == 0:
                height += 1
            rec = _line(rng, world, nft_frac, f"r{seed}x{f:04d}x{i:05d}", height)
            out.write(json.dumps(rec, separators=(",", ":")))
            out.write("\n")


def write_inputs(out_dir, seed, files, lines_per_file, nft_frac):
    """Write `files` log files and `tokens.json` under `out_dir`.

    Each file has its own random stream, so files are written in
    parallel. Returns the manifest: file names (in publication order),
    lines per file and the blacklist the benchmark configures graft with.
    """
    world = World(seed)
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    names = [f"f{f:04d}.json" for f in range(files)]
    with multiprocessing.Pool(min(4, os.cpu_count() or 1), _set_world, (seed,)) as pool:
        pool.map(_write_file, [(os.path.join(logs, n), seed, f, lines_per_file, nft_frac)
                               for f, n in enumerate(names)])
    with open(os.path.join(out_dir, "tokens.json"), "w") as out:
        for row in world.metadata:
            out.write(json.dumps(row, separators=(",", ":")))
            out.write("\n")
    return {"files": names, "lines_per_file": lines_per_file,
            "blacklist": world.blacklist}
