"""Reference records for the stream benchmark, computed without graft.

`expected(...)` re-states what the reference streamer delivers for each
log line -- the envelope to its own topic and to the catch-all topic,
plus, with enrichment on, one flattened per-token record with its
metadata to `<topic>_metadata` -- in the JSON shape graft's
`toKafkaRecords`/`metadataRecords` serialise. `compare(...)` reads the
benchmark's parquet sink and diffs the two multisets of
(topic, key, value).

An independent restatement catches a change to graft's pipeline that a
graft-computed reference would share. `test_perfbench.py` checks that
this module and `NesConfig.pipeline` run as a batch agree exactly on
seed code.
"""

import collections
import hashlib
import json
import multiprocessing
import os
import re

PREFIX = "near.events"
ALL_TOPIC = "near.events.all"
NAME = re.compile(r"^[a-zA-Z0-9._-]+$")
MARK = "EVENT_JSON:"


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _digest(topic, key, value):
    return hashlib.blake2b(
        f"{topic}\x00{key}\x00{value}".encode(), digest_size=12).digest()


def _emit_info(row):
    return {k: row[k] for k in ("receipt_id", "block_timestamp", "block_height",
                                "shard_id", "contract_account_id")
            if row.get(k) is not None}


def _line_records(row, blacklist, tokens):
    log = row["log"].strip()
    if not log.startswith(MARK):
        return
    data = log[len(MARK):].strip()
    try:
        env = json.loads(data)
    except ValueError:
        return
    if not isinstance(env, dict):
        return
    std, ver, ev = env.get("standard"), env.get("version"), env.get("event")
    if not (isinstance(std, str) and isinstance(ev, str)
            and NAME.match(std) and NAME.match(ev)):
        return
    contract = row["contract_account_id"]
    if contract in blacklist:
        return
    emit = _emit_info(row)
    key = contract
    envelope = {"standard": std}
    if ver is not None:
        envelope["version"] = ver
    envelope.update({"event": ev, "data": data, "emit_info": emit})
    value = _dumps(envelope)
    topic = f"{PREFIX}.{std}.{ev}"
    yield topic, key, value
    yield ALL_TOPIC, key, value
    if tokens is None or std != "nep171" or ev not in ("nft_mint", "nft_transfer"):
        return
    mint = ev == "nft_mint"
    for elem in env.get("data") or []:
        for token in elem.get("token_ids") or []:
            flat = {"standard": std, "version": ver, "event": ev,
                    "emit_info": emit,
                    "owner_id": elem.get("owner_id") if mint else None,
                    "old_owner_id": None if mint else elem.get("old_owner_id"),
                    "new_owner_id": None if mint else elem.get("new_owner_id"),
                    "token_id": token, "memo": elem.get("memo")}
            meta = tokens.get((contract, token))
            flat["title"] = meta and meta["title"]
            flat["media"] = meta and meta["media"]
            flat["extra"] = meta and meta["extra"]
            flat["_id"] = f"{contract}:{token}"
            flat["metadata_extra"] = meta and _dumps(json.loads(meta["extra"]))
            yield (f"{topic}_metadata", key,
                   _dumps({k: v for k, v in flat.items() if v is not None}))


def load_tokens(path):
    tokens = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            tokens[(r["contract_account_id"], r["token_id"])] = r
    return tokens


_config = None


def _set_config(blacklist, tokens):
    global _config
    _config = (blacklist, tokens)


def _expected_file(path):
    out = collections.Counter()
    with open(path) as f:
        for line in f:
            for rec in _line_records(json.loads(line), *_config):
                out[_digest(*rec)] += 1
    return out


def expected(log_paths, blacklist, tokens=None):
    """Per log file, the multiset of record digests it must produce."""
    with multiprocessing.Pool(_procs(), _set_config, (frozenset(blacklist), tokens)) as pool:
        return dict(zip(log_paths, pool.map(_expected_file, log_paths)))


def _sink_file(path):
    import pyarrow.parquet as pq
    topic = next(p[len("topic="):] for p in path.split(os.sep) if p.startswith("topic="))
    out = collections.Counter()
    cols = pq.read_table(path, columns=["key", "value"]).to_pydict()
    for k, v in zip(cols["key"], cols["value"]):
        out[_digest(topic, k, v)] += 1
    return out


def read_sink(sink_dir):
    """Multiset of record digests in a topic-partitioned parquet sink."""
    files = [os.path.join(d, n) for d, _, names in os.walk(sink_dir)
             if "_temporary" not in d for n in names if n.endswith(".parquet")]
    out = collections.Counter()
    with multiprocessing.Pool(_procs()) as pool:
        for c in pool.map(_sink_file, files, chunksize=8):
            out.update(c)
    return out


def _procs():
    return min(4, os.cpu_count() or 1)


def compare(want, got):
    """(records expected, records missing + records extra)."""
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return sum(want.values()), missing + extra
