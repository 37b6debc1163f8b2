package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.model.NearEvent
import graft.streaming.{EventStreams, NesConfig, StreamJobs}

class NesConfigSpec extends SparkSpec {
  import spark.implicits._

  test("fromProperties parses the nes.toml key space with defaults") {
    val c = NesConfig.fromProperties(Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "kafka.security.protocol" -> "SASL_SSL",
      "near_events_topic_prefix" -> "prod.events",
      "whitelist_contract_ids" -> "a.near, b.near",
      "new_topic_partitions" -> "12",
      "stats_enabled" -> "true",
      "enrich_metadata" -> "true",
      "some_future_key" -> "ignored"))
    assert(c.kafka === Map(
      "bootstrap.servers" -> "broker:9092", "security.protocol" -> "SASL_SSL"))
    assert(c.kafkaClientOptions("kafka.bootstrap.servers") === "broker:9092")
    assert(c.nearEventsTopicPrefix === "prod.events")
    assert(c.nearEventsAllTopic === "near.events.all") // default
    assert(c.whitelistContractIds === Seq("a.near", "b.near"))
    assert(c.blacklistContractIds === Nil)
    assert(c.newTopicPartitions === 12)
    assert(c.statsEnabled && c.enrichMetadata)
    assert(!c.forceCreateNewTopic)
  }

  test("configured pipeline applies whitelist and enrichment stages") {
    val logs = spark.read.format("graft.sources.BlockSource")
      .option("startHeight", 100).option("numBlocks", 10)
      .option("logsPerBlock", 9).option("numPartitions", 2)
      .load()
    // whitelist one of the 5 synthetic contracts
    val plain = NesConfig.fromProperties(Map(
      "whitelist_contract_ids" -> "contract0.near")).pipeline(logs)
    val keys = plain.select(col("key")).distinct().as[String].collect()
    assert(keys.toSeq === Seq("contract0.near"))
    // every event lands on its own topic AND the catch-all
    val topics = plain.groupBy(col("topic")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(topics.keySet === Set("near.events.nep171.nft_mint", "near.events.all"))
    assert(topics.values.toSet.size === 1)

    // blacklist removes exactly its contracts (events only occur at
    // log indices 0/3/6 → contracts 0, 3, 1 in the synthetic chain)
    val blacklisted = NesConfig.fromProperties(Map(
      "blacklist_contract_ids" -> "contract0.near, contract1.near")).pipeline(logs)
    val remaining = blacklisted.select(col("key")).distinct().as[String].collect().toSet
    assert(remaining === Set("contract3.near"))

    // enrich_metadata=true ADDS the <topic>_metadata delivery of
    // flattened+enriched records; the envelope still goes to the
    // specific and catch-all topics (events.rs three-way try_join)
    val tokens = Seq(
      ("contract0.near", "100:0", "Token #0", "ipfs://m0", """{"rarity":"epic"}"""))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val enriched = NesConfig.fromProperties(Map(
      "whitelist_contract_ids" -> "contract0.near",
      "enrich_metadata" -> "true")).pipeline(logs, Some(tokens))
    val enrichedTopics = enriched.select(col("topic")).distinct()
      .as[String].collect().toSet
    assert(enrichedTopics === Set("near.events.nep171.nft_mint",
      "near.events.all", "near.events.nep171.nft_mint_metadata"))
    val value = enriched.filter(col("topic") === "near.events.all").head.getAs[String]("value")
    assert(value.contains("nft_mint"))
    val metaValue = enriched
      .filter(col("topic") === "near.events.nep171.nft_mint_metadata")
      .head.getAs[String]("value")
    assert(metaValue.contains("token_id") && metaValue.contains("_id"))
  }

  test("runConfigured honors enrich_metadata end-to-end (file source -> per-topic parquet)") {
    val base = java.nio.file.Files.createTempDirectory("graft-nesconf").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val chk = s"$base/chk"
    // render a small log batch from BlockSource into json files
    spark.read.format("graft.sources.BlockSource")
      .option("startHeight", 300).option("numBlocks", 5)
      .option("logsPerBlock", 3).option("numPartitions", 1)
      .load().write.mode("overwrite").json(srcDir)
    val tokens = Seq(
      ("contract0.near", "300:0", "T300", "ipfs://m", """{"k":1}"""))
      .toDF("contract_account_id", "token_id", "title", "media", "extra")
    val q = NesConfig.runConfigured(spark,
      NesConfig.fromProperties(Map("enrich_metadata" -> "true")),
      srcDir, outDir, chk, Some(tokens))
    q.awaitTermination()
    val out = spark.read.parquet(outDir)
    // 1 mint/block (log 0): envelope to 2 topics + 1 flat enriched
    // record to the _metadata topic = 3 deliveries per block
    assert(out.count() === 5L * 3)
    assert(out.columns.contains("value"))
    val v = out.filter(col("topic").endsWith("_metadata"))
      .head.getAs[String]("value")
    assert(v.contains("token_id") && v.contains("_id"))
  }

  test("fromTomlFile round-trips a reference-shaped nes.toml") {
    val toml =
      """# near-event-streams config (configs.rs NesConfig surface)
        |near_events_topic_prefix = "near.events"   # trailing comment
        |near_events_all_topic = 'near.events.all'
        |whitelist_contract_ids = ["nft.near", "market.near"]
        |blacklist_contract_ids = []
        |new_topic_partitions = 6
        |new_topic_replication = 3
        |force_create_new_topic = true
        |stats_enabled = true
        |enrich_metadata = false
        |
        |[kafka]
        |bootstrap.servers = "broker-1:9092,broker-2:9092"
        |security.protocol = "SASL_SSL"
        |sasl.password = "p#ss"  # hash inside quotes is not a comment
        |sasl.username = "u\"w#x"  # escaped quote must not close the string
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-nes", ".toml")
    java.nio.file.Files.write(f, toml.getBytes("UTF-8"))
    val c = NesConfig.fromTomlFile(f.toString)
    assert(c.nearEventsTopicPrefix === "near.events")
    assert(c.nearEventsAllTopic === "near.events.all")
    assert(c.whitelistContractIds === Seq("nft.near", "market.near"))
    assert(c.blacklistContractIds === Nil)
    assert(c.newTopicPartitions === 6 && c.newTopicReplication === 3)
    assert(c.forceCreateNewTopic && c.statsEnabled && !c.enrichMetadata)
    assert(c.kafka("bootstrap.servers") === "broker-1:9092,broker-2:9092")
    assert(c.kafka("security.protocol") === "SASL_SSL")
    assert(c.kafka("sasl.password") === "p#ss")
    assert(c.kafka("sasl.username") === "u\"w#x")
    // and the client-option shaping still applies downstream
    assert(c.kafkaClientOptions("kafka.bootstrap.servers") === "broker-1:9092,broker-2:9092")
  }

  test("enrich_metadata without a tokens frame fails fast") {
    val logs = Seq(("EVENT_JSON:{}", "r1", 1L, 1L, 0L, "c1"))
      .toDF("log", "receipt_id", "block_timestamp", "block_height", "shard_id", "contract_account_id")
    intercept[IllegalArgumentException] {
      NesConfig.fromProperties(Map("enrich_metadata" -> "true")).pipeline(logs)
    }
  }

  // --- the single-pass enriched path against the two-branch reference ---

  /** The pre-single-pass flatten: a mint branch and a transfer branch,
    * each exploding its parsed array then its token ids, unioned.
    */
  private def twoBranchFlatten(events: DataFrame): DataFrame = {
    val isMint = col("standard") === "nep171" && col("event") === "nft_mint"
    val isTransfer = col("standard") === "nep171" && col("event") === "nft_transfer"
    val parsed = events
      .withColumn("mint_arr", when(isMint, from_json(get_json_object(col("data"), "$.data"),
        ArrayType(NearEvent.mintDataSchema))))
      .withColumn("xfer_arr", when(isTransfer, from_json(get_json_object(col("data"), "$.data"),
        ArrayType(NearEvent.transferDataSchema))))
    val mints = parsed.filter(isMint)
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        explode(col("mint_arr")).as("m"))
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        col("m.owner_id").as("owner_id"),
        lit(null).cast("string").as("old_owner_id"),
        lit(null).cast("string").as("new_owner_id"),
        explode(col("m.token_ids")).as("token_id"),
        col("m.memo").as("memo"))
    val xfers = parsed.filter(isTransfer)
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        explode(col("xfer_arr")).as("t"))
      .select(col("standard"), col("version"), col("event"), col("emit_info"),
        lit(null).cast("string").as("owner_id"),
        col("t.old_owner_id").as("old_owner_id"),
        col("t.new_owner_id").as("new_owner_id"),
        explode(col("t.token_ids")).as("token_id"),
        col("t.memo").as("memo"))
    mints.unionByName(xfers)
  }

  private def filteredOf(logs: DataFrame, blacklist: Seq[String]): DataFrame =
    EventStreams.filterContracts(
      EventStreams.validated(EventStreams.extractEvents(logs)), Nil, blacklist)

  /** The three deliveries as separately composed stages. */
  private def twoBranchReference(logs: DataFrame, tokens: DataFrame,
      blacklist: Seq[String]): DataFrame = {
    val f = filteredOf(logs, blacklist)
    EventStreams.toKafkaRecords(f, "near.events", "near.events.all").unionByName(
      EventStreams.metadataRecords(
        EventStreams.enrichMetadata(twoBranchFlatten(f), tokens), "near.events"))
  }

  /** Seeded adversarial `EVENT_JSON:` traffic: well-formed mints and
    * transfers mixed with every malformed shape the flatten must
    * drop or pass through unchanged.
    */
  private lazy val adversarialLogDir: String = {
    val rnd = new scala.util.Random(171)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    def token = "\"t" + rnd.nextInt(8) + "\""
    def tokenIds = pick(
      (0 until rnd.nextInt(4)).map(_ => token).mkString("\"token_ids\":[", ",", "]"),
      (1 to 2).map(_ => token).mkString("\"token_ids\":[", ",", "]"),
      "\"token_ids\":null", "", "\"token_ids\":[]", "\"token_ids\":[null]",
      s"\"token_ids\":[$token,null]", "\"token_ids\":\"t1\"")
    def element(mint: Boolean) = if (rnd.nextInt(8) == 0) "null" else {
      val owners =
        if (mint) Seq(s"\"owner_id\":\"o${rnd.nextInt(3)}\"")
        else Seq("\"authorized_id\":\"x\"", "\"old_owner_id\":\"a\"", "\"new_owner_id\":\"b\"")
      (owners ++ Seq(tokenIds, pick("", "\"memo\":\"m\""))).filter(_.nonEmpty)
        .mkString("{", ",", "}")
    }
    def data(mint: Boolean) = pick(
      (1 to 1 + rnd.nextInt(3)).map(_ => element(mint)).mkString("[", ",", "]"),
      (1 to 1 + rnd.nextInt(3)).map(_ => element(mint)).mkString("[", ",", "]"),
      element(mint), "[null]", "null", "{}", "\"str\"", "[]")
    def event = pick(
      s"""{"standard":"nep171","version":"1.0.0","event":"nft_mint","data":${data(true)}}""",
      s"""{"standard":"nep171","version":"1.0.0","event":"nft_transfer","data":${data(false)}}""",
      s"""{"standard":"nep171","event":"nft_mint","data":${data(true)}}""",
      s"""{"standard":"nep171","version":"1.0.0","event":"nft_burn","data":${data(true)}}""",
      s"""{"standard":"nep141","version":"1.0.0","event":"ft_transfer","data":[{"amount":"1"}]}""",
      s"""{"standard":"nep141","version":"1.0.0","event":"ft_mint","data":{"amount":"2"}}""",
      s"""{"standard":"bad name!","version":"1.0.0","event":"nft_mint","data":${data(true)}}""",
      s"""{"standard":"nep171","version":"1.0.0","data":${data(true)}}""")
    def line = {
      val e = event
      pick("EVENT_JSON:" + e, "EVENT_JSON:" + e, " EVENT_JSON: " + e + " ",
        "EVENT_JSON:" + e.take(rnd.nextInt(e.length)), "plain log line", "EVENT_JSON:", "EVENT_JSON:[1,2]")
    }
    val rows = (0 until 2000).map(i =>
      (line, s"r$i", 1700000000000L + i, 1000L + i / 3, (i % 4).toLong,
        pick("a.near", "a.near", "b.near", "c.near", null)))
    val dir = java.nio.file.Files.createTempDirectory("graft-adversarial").toString + "/logs"
    rows.toDF("log", "receipt_id", "block_timestamp", "block_height", "shard_id",
      "contract_account_id").coalesce(1).write.json(dir)
    dir
  }

  private def adversarialLogs: DataFrame =
    spark.read.schema(StreamJobs.logSchema).json(adversarialLogDir)

  /** Token dim with duplicate (contract, token) rows, a null token id,
    * a null contract, non-JSON and null `extra`.
    */
  private def adversarialTokens: DataFrame = Seq[(String, String, String, String, String)](
    ("a.near", "t0", "A0", "ipfs://a0", """{"rarity":"epic"}"""),
    ("a.near", "t1", "A1", "ipfs://a1", "not json{"),
    ("a.near", "t1", "A1 dup", "ipfs://a1b", """{"dup":true}"""),
    ("a.near", "t2", "A2", null, null),
    ("a.near", null, "no token", "ipfs://n", "{}"),
    ("b.near", "t3", "B3", "ipfs://b3", """[1,2]"""),
    ("b.near", "t3", "B3 dup", "ipfs://b3", """{"k":"v"}"""),
    (null, "t4", "no contract", "ipfs://x", "{}"))
    .toDF("contract_account_id", "token_id", "title", "media", "extra")

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("single-pass enriched pipeline equals the two-branch composition on adversarial input") {
    // a blacklist also drops null-contract events (SQL `NOT IN`), so
    // the unfiltered run is the one that carries null contracts through
    for (blacklist <- Seq(Nil, Seq("c.near"))) {
      val got = multiset(NesConfig(blacklistContractIds = blacklist, enrichMetadata = true)
        .pipeline(adversarialLogs, Some(adversarialTokens)).select("topic", "key", "value"))
      val want = multiset(twoBranchReference(adversarialLogs, adversarialTokens, blacklist)
        .select("topic", "key", "value"))
      assert(got === want, s"blacklist $blacklist")
      // the input really exercises every delivery kind
      def count(p: Seq[Any] => Boolean) = want.filter(kv => p(kv._1)).values.sum
      val meta = count(_.head.toString.endsWith("_metadata"))
      assert(meta > 50, s"only $meta metadata records")
      assert(count(_.head == "near.events.nep141.ft_transfer") > 10)
      assert(count(r => r.head.toString.endsWith("_metadata") &&
        r(2).toString.contains("A1 dup")) > 0, "duplicate dim rows must multiply")
      // flattenNep171 (also ev20's stage) equals the two-branch flatten
      val f = filteredOf(adversarialLogs, blacklist)
      def asJson(df: DataFrame) =
        multiset(df.select(to_json(struct(df.columns.map(col).toSeq: _*))))
      assert(asJson(EventStreams.flattenNep171(f)) === asJson(twoBranchFlatten(f)))
    }
    val nullContract = multiset(NesConfig(enrichMetadata = true)
      .pipeline(adversarialLogs, Some(adversarialTokens))
      .filter(col("topic").endsWith("_metadata") && !col("value").contains("contract_account_id"))
      .select("value"))
    assert(nullContract.nonEmpty, "null-contract events reach the metadata delivery")
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size
    def unions(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) { case u: UnionExec => u }.size
    def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  }

  test("enriched pipeline plans one source scan and no Union; enrich-off plan is the envelope chain") {
    val logs = adversarialLogs
    val blacklist = Seq("c.near")
    val enriched = NesConfig(blacklistContractIds = blacklist, enrichMetadata = true)
      .pipeline(logs, Some(adversarialTokens))
    assert(Plans.scans(enriched) === 1, Plans.plan(enriched).treeString)
    assert(Plans.unions(enriched) === 0, Plans.plan(enriched).treeString)
    // control: the composed branches re-read the source per branch
    val reference = twoBranchReference(logs, adversarialTokens, blacklist)
    assert(Plans.scans(reference) === 3)
    assert(Plans.unions(reference) > 0)
    // enrichment off keeps exactly the extract → filter → route chain
    val plain = NesConfig(blacklistContractIds = blacklist).pipeline(logs)
    val chain = EventStreams.toKafkaRecords(
      filteredOf(logs, blacklist), "near.events", "near.events.all")
    assert(Plans.plan(plain).sameResult(Plans.plan(chain)))
    assert(Plans.scans(plain) === 1 && Plans.unions(plain) === 0)
  }
}
