package graft.tools

import graft.SparkTestBase
import graft.operators.{AsOfJoin, Components, Dedup, IntervalJoin,
  Sessionize, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The replica invariants behind SCALE.md's decade claims: near-dup
  * pairs never cross replicas and scale exactly N×, event-tier outputs
  * scale exactly N×, the probe never gets LESS selective as
  * concentration grows. This suite builds the replica structure at
  * reps=3 over sf0.001 (1,500 docs / 1,500 vectors / ~3,000 events —
  * small enough for the test budget) and asserts the OUTPUT invariants,
  * so a plan or operator regression that broke a decade claim fails
  * here. No wall-time asserts: the measured timings live in SCALE.md.
  */
class ReplicasSpec extends SparkTestBase {

  private val R = 3

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val ev = graft.Tables.load(spark, sfDir, "events")

  private def docRep(c: org.apache.spark.sql.Column) =
    Replicas.replicaOf(c, Replicas.docIdStride)
  private def vecRep(c: org.apache.spark.sql.Column) =
    Replicas.replicaOf(c, Replicas.vecIdStride)

  // ---------------------------------------------------------------- docs

  test("documents replicas: minhash near-dup pairs NEVER cross replicas, " +
    "replica 0 equals the base pair set exactly, and a planted near-dup " +
    "is recalled inside every replica") {
    // plant one unambiguous near-dup: doc 9000 = doc with the longest
    // text minus its last token (shingle Jaccard ~1, well above 0.6)
    val longest = docs.orderBy(col("n_chars").desc, col("doc_id"))
      .select("doc_id", "text", "lang", "source").collect()(0)
    val truncated = longest.getString(1).split(" ").dropRight(1).mkString(" ")
    import spark.implicits._
    val planted = Seq((9000L, truncated, longest.getString(2),
      longest.getString(3), truncated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = docs.unionByName(planted)
    val basePairs = Dedup.minhashNearDups(base, "doc_id", "text", 0.6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(basePairs.contains(
      (math.min(longest.getLong(0), 9000L),
        math.max(longest.getLong(0), 9000L))),
      s"base corpus did not recall the planted pair: $basePairs")

    val repPairs = Dedup.minhashNearDups(
      Replicas.documents(base, R), "doc_id", "text", 0.6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1. zero cross-replica pairs — replicas share no shingles
    val crossers = repPairs.filter { case (a, b) =>
      a / Replicas.docIdStride != b / Replicas.docIdStride }
    assert(crossers.isEmpty, s"pairs crossed replicas: $crossers")
    // 2. replica 0 is the identity rename: its pair set == base exactly
    val rep0 = repPairs.filter(_._1 / Replicas.docIdStride == 0)
    assert(rep0 == basePairs,
      s"replica 0 diverged from base: ${rep0.diff(basePairs)} extra, " +
        s"${basePairs.diff(rep0)} missing")
    // 3. the planted pair is recalled inside EVERY replica (the rename
    //    is a shingle bijection; xxhash values differ per replica, so
    //    this asserts banding recall holds under rehashing, not luck)
    for (r <- 0 until R) {
      val want = (math.min(longest.getLong(0), 9000L)
        + r * Replicas.docIdStride,
        math.max(longest.getLong(0), 9000L) + r * Replicas.docIdStride)
      assert(repPairs.contains(want), s"replica $r missed planted $want")
    }
    // 4. per-replica pair counts stay within banding-recall noise of the
    //    base (the rename rehashes every shingle, so banding can shift
    //    individual borderline pairs in or out — SCALE.md's docs100 run
    //    measured +-2 pairs of exactly 100x)
    for (r <- 1 until R) {
      val n = repPairs.count(_._1 / Replicas.docIdStride == r)
      assert(math.abs(n - basePairs.size) <= math.max(2, basePairs.size / 5),
        s"replica $r found $n pairs vs base ${basePairs.size}")
    }
  }

  // The end-to-end corpus clean whose cluster census SCALE.md round 13
  // measured: exact-dedup on normalized text, MinHash near-dup pairs,
  // connected components, one row per cluster.
  private def corpusCleanCensus(docs: DataFrame): DataFrame = {
    val normed = docs.select(col("doc_id"), col("text"),
      TextAnalysis.normalize(col("text")).as("ntext"))
    val keepIds = normed.groupBy(md5(col("ntext")).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val kept = normed.join(keepIds, Seq("doc_id")).localCheckpoint()
    val pairs = Dedup.minhashNearDups(kept, "doc_id", "text", 0.6)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // materialize the census before freeing kept's blocks, so the
    // unpersist does not depend on minLabel checkpointing eagerly
    val census = Components
      .minLabel(kept.select(col("doc_id").as("id")), pairs)
      .groupBy("cluster").agg(count(lit(1)).as("members"))
      .localCheckpoint()
    kept.unpersist()
    census
  }

  test("corpus pipeline census: replica 0 equals the base census " +
    "row-for-row; other replicas match within banding tolerance; no " +
    "cluster crosses replicas") {
    // The SCALE.md round-13 claim in CI: the end-to-end clean's cluster
    // census scales with the corpus because near-dup structure stays
    // within replicas. Replica 0 is the untouched base text, so its
    // census must be IDENTICAL; replicas 1..R-1 rehash every shingle
    // under the token rename, so banding may shift borderline pairs
    // (same +-tolerance the pair test above uses), moving a few docs
    // between clusters.
    val base = corpusCleanCensus(docs)
      .collect().map(_.toSeq).toSet
    val rep = corpusCleanCensus(Replicas.documents(docs, R))
      .collect()
    // every cluster label lives in exactly one replica's id range, and
    // its member count never exceeds that replica's doc count — a
    // cross-replica merge would need a cross-replica pair, which the
    // pair test above already forbids; this checks the census end of it
    val perRep = rep.groupBy(_.getLong(0) / Replicas.docIdStride)
    assert(perRep.keySet == (0L until R).toSet)
    val rep0 = perRep(0L).map(_.toSeq).toSet
    assert(rep0 == base, "replica 0 census diverged from base")
    for (r <- 1L until R) {
      val n = perRep(r).length
      assert(math.abs(n - base.size) <= math.max(2, base.size / 20),
        s"replica $r census $n clusters vs base ${base.size}")
    }
  }

  test("round-15 doc pipelines are shard-exact on replicas: chunk " +
    "dedup counts shift with ids, novelty replays per shard, winnow " +
    "pairs never cross, offsets are block-shifted by the shard total") {
    import graft.operators.{ChunkDedup, Novelty, Ranking, Winnow}
    val rep = Replicas.documents(docs, R)
    val S = Replicas.docIdStride

    // chunk dedup: the token rename preserves chunk-equality structure
    // inside a replica and forbids it across, so (n_chunks, n_dropped)
    // for id+r*S equal the base doc's numbers in EVERY replica (the
    // rewritten text itself is the suffixed variant, so only counts
    // compare); replica 0's full rows equal the base rows verbatim
    val base56 = ChunkDedup.dropSharedChunks(docs, "doc_id", "text", 4, 3)
    val rep56 = ChunkDedup.dropSharedChunks(rep, "doc_id", "text", 4, 3)
    val baseCounts = base56.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val repCounts = rep56.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(repCounts.size == R * baseCounts.size)
    for ((id, c) <- repCounts)
      assert(c == baseCounts(id % S), s"doc $id: $c vs ${baseCounts(id % S)}")
    assert(rep56.filter(docRep(col("doc_id")) === 0)
      .exceptAll(base56).isEmpty, "replica 0 rewrite diverged from base")

    // novelty: disjoint per-shard vocabularies -> every replica replays
    // the base first-seen structure exactly, ids shifted
    val base59 = Novelty.firstSeenFraction(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val rep59 = Novelty.firstSeenFraction(rep, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rep59.size == R * base59.size)
    for ((id, v) <- rep59)
      assert(v == base59(id % S), s"novelty $id: $v vs ${base59(id % S)}")

    // winnow: the rename changes gram hashes, so replica r's pair SET
    // may legitimately differ from base near thresholds — the shard
    // invariants are: no pair crosses replicas, and replica 0 (raw
    // text) equals the base pair set exactly
    val basePairs = Winnow.overlapPairs(docs, "doc_id", "text", 3, 4, 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val repPairs = Winnow.overlapPairs(rep, "doc_id", "text", 3, 4, 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repPairs.forall { case (a, b) => a / S == b / S },
      "winnow pair crossed replicas")
    assert(repPairs.filter { case (a, _) => a / S == 0L } == basePairs,
      "replica 0 winnow pairs diverged from base")

    // offsets: token counts survive the rename and ids are
    // replica-blocked, so offset(id + r*S) = offset(id) + r*T with T
    // the base corpus's total token count — exact, every row
    def offs(df: org.apache.spark.sql.DataFrame) = Ranking
      .globalPrefixSum(
        df.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        Seq(col("doc_id").asc), col("n_tokens"), "tok_offset", 5)
      .select("doc_id", "tok_offset").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseOff = offs(docs)
    val totalToks = docs.agg(sum(size(split(col("text"), " "))))
      .head().getLong(0)
    val repOff = offs(rep)
    assert(repOff.size == R * baseOff.size)
    for ((id, o) <- repOff)
      assert(o == baseOff(id % S) + (id / S) * totalToks,
        s"offset $id: $o vs ${baseOff(id % S)} + ${id / S} * $totalToks")
  }

  // ----------------------------------------------------------- embeddings

  test("embedding replicas: within-replica sign-band pairs (ids AND " +
    "sims) are exactly the base pairs in every replica; no cross-replica " +
    "pair survives a production threshold") {
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val basePairs = Similarity.signBandNearDupPairs(base, 0.3, 8, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(basePairs.nonEmpty)
    val rep = Replicas.embeddings(emb, R)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val repPairs = Similarity.signBandNearDupPairs(rep, 0.3, 8, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // within-replica pairs mapped back down must equal base EXACTLY —
    // the sign mask flips both vectors' coordinates identically, so
    // collision structure and dot products are bit-preserved
    for (r <- 0 until R) {
      val mine = repPairs.filter { case (a, b, _) =>
        a / Replicas.vecIdStride == r && b / Replicas.vecIdStride == r }
        .map { case (a, b, s) => (a - r * Replicas.vecIdStride,
          b - r * Replicas.vecIdStride, s) }.toSet
      assert(mine == basePairs,
        s"replica $r within-pairs diverged from base " +
          s"(${mine.size} vs ${basePairs.size})")
    }
    // cross-replica similarity is scrambled to noise: pairs may leak in
    // at the diagnostic 0.3 threshold, but NEVER at a production
    // near-dup threshold
    val crossHigh = repPairs.filter { case (a, b, s) =>
      a / Replicas.vecIdStride != b / Replicas.vecIdStride && s >= 0.9 }
    assert(crossHigh.isEmpty, s"scrambled replicas near-dup'd: $crossHigh")
  }

  test("the band probe reacts monotonically to replication: every " +
    "config's measured mass is at least 3x the base (within-replica mass " +
    "is exactly 3x, cross-replica collisions only add), and the chosen " +
    "config never gets LESS selective") {
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val rep = Replicas.embeddings(emb, R)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val ladder = Similarity.defaultBandLadder
    val statsBase = Similarity.bandConcentration(base, "vec", ladder)
    val statsRep = Similarity.bandConcentration(rep, "vec", ladder)
    statsBase.zip(statsRep).foreach { case (b, r) =>
      assert(r.rows == R * b.rows, s"row count: $b vs $r")
      assert(r.candidatePairs >= R * b.candidatePairs,
        s"replicated mass below 3x base for (${b.bands},${b.rowsPerBand}): " +
          s"base ${b.candidatePairs}, rep ${r.candidatePairs}")
    }
    val chosenBase = Similarity.selectBandConfig(statsBase, 48.0)
    val chosenRep = Similarity.selectBandConfig(statsRep, 48.0)
    assert(ladder.indexOf(chosenRep) >= ladder.indexOf(chosenBase),
      s"probe got less selective under replication: " +
        s"$chosenBase -> $chosenRep")
  }

  // --------------------------------------------------------------- events

  test("event replicas: sessionize / as-of / interval-join outputs are " +
    "exactly 3x the base, and replica 0's session rows equal the base " +
    "row-for-row") {
    val baseSessions = Sessionize.sessions(ev, 1800L)
    val baseRows = baseSessions.collect().map(_.toSeq).toSet
    val repEv = Replicas.events(ev, R)
    val repSessions = Sessionize.sessions(repEv, 1800L).collect()
    assert(repSessions.length == R * baseRows.size,
      s"sessions: ${repSessions.length} != $R x ${baseRows.size}")
    // per-user structure is preserved verbatim: map replica-0 rows down
    val rep0 = repSessions
      .filter(r => r.getLong(0) / Replicas.userIdStride == 0)
      .map(_.toSeq).toSet
    assert(rep0 == baseRows, "replica 0 sessions diverged from base")

    def purchases(e: DataFrame) = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    def clicks(e: DataFrame) = e.filter(col("event_type") === "click")
      .select("user_id", "ts", "value")
    val baseAsof = AsOfJoin.join(purchases(ev), clicks(ev),
      "user_id", "ts", "ts", Seq("value")).count()
    val repAsof = AsOfJoin.join(purchases(repEv), clicks(repEv),
      "user_id", "ts", "ts", Seq("value")).count()
    assert(repAsof == R * baseAsof, s"asof: $repAsof != $R x $baseAsof")

    def clicksIv(e: DataFrame) = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val baseIv = IntervalJoin.join(purchases(ev), clicksIv(ev),
      "user_id", "ts", "ts", Seq("event_id", "value"),
      windowUs = 600000000L).count()
    val repIv = IntervalJoin.join(purchases(repEv), clicksIv(repEv),
      "user_id", "ts", "ts", Seq("event_id", "value"),
      windowUs = 600000000L).count()
    assert(repIv == R * baseIv, s"interval: $repIv != $R x $baseIv")
  }

  // ---------------------------------------------------------------- tpch

  test("tpch fact replicas: dim-keyed measures scale exactly Nx, " +
    "orderkey-keyed group counts scale exactly Nx, and no TPC-H shape " +
    "degrades to a nested loop or cartesian at the decade") {
    // the graded queries read a directory, so build a x3 slice on disk:
    // dims copied, facts orderkey-strided (Replicas.orders/lineitem)
    val dir = java.nio.file.Files.createTempDirectory("graft-tpch3")
      .toString
    try {
      for (d <- Seq("region", "nation", "customer", "supplier", "part"))
        spark.read.parquet(s"$sfDir/$d.parquet")
          .write.parquet(s"$dir/$d.parquet")
      Replicas.orders(spark.read.parquet(s"$sfDir/orders.parquet"), R)
        .write.parquet(s"$dir/orders.parquet")
      Replicas.lineitem(spark.read.parquet(s"$sfDir/lineitem.parquet"), R)
        .write.parquet(s"$dir/lineitem.parquet")

      // 1. dim-keyed measures scale EXACTLY: Q4's per-priority counts
      // and Q5's per-nation revenues at x3 equal base x3 row-for-row.
      // Exact for revenue too: the decimal sum over 3 replicas is 3x
      // the base decimal sum (decimal addition is exact), and both
      // sides' cent totals stay far under 2^53, so the final double
      // casts are exact.
      def rows(name: String, d: String): Seq[Seq[Any]] =
        graft.SparkEntry.queries(name)(spark, d).collect().map(_.toSeq)
      val q4Base = rows("s47_tpch_q4", sfDir)
        .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
      val q4Rep = rows("s47_tpch_q4", dir)
        .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
      assert(q4Rep == q4Base.view.mapValues(_ * R).toMap,
        s"Q4 counts did not scale ${R}x: $q4Base vs $q4Rep")
      val q5Base = rows("s25_tpch_q5", sfDir)
        .map(r => r.head -> r(1).asInstanceOf[Double]).toMap
      val q5Rep = rows("s25_tpch_q5", dir)
        .map(r => r.head -> r(1).asInstanceOf[Double]).toMap
      assert(q5Rep == q5Base.view.mapValues(_ * R).toMap,
        s"Q5 revenues did not scale ${R}x: $q5Base vs $q5Rep")

      // 2. orderkey-keyed group counts scale EXACTLY (each replica
      // reproduces the base per-orderkey structure): Q18's heavy-order
      // set and Q3's filtered order-group set
      def bigOrders(d: String): Long =
        graft.Tables.load(spark, d, "lineitem").groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("q")).filter(col("q") > 250)
          .count()
      assert(bigOrders(dir) == R * bigOrders(sfDir))
      def q3Groups(d: String): Long =
        graft.Tables.load(spark, d, "lineitem")
          .join(graft.Tables.load(spark, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(graft.Tables.load(spark, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === "BUILDING"
            && col("o_orderdate") <
              lit("1997-07-01").cast("timestamp_ntz")
            && col("l_shipdate") >
              lit("1997-07-01").cast("timestamp_ntz"))
          .select("l_orderkey").distinct().count()
      assert(q3Groups(dir) == R * q3Groups(sfDir))

      // 3. plan pin: none of the six TPC-H shapes degrades to a nested
      // loop or cartesian on the replicated slice (the "plan you'd want
      // at 100x" guarantee — run first, AQE finalizes at runtime)
      for (name <- Seq("s24_tpch_q3", "s25_tpch_q5", "s40_tpch_q13",
        "s41_tpch_q18", "s47_tpch_q4", "s48_tpch_q10")) {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.collect()
        val bad = Plans.deepNodes(df.queryExecution.executedPlan)
          .map(_.getClass.getSimpleName)
          .filter(n => n.contains("BroadcastNestedLoopJoin")
            || n.contains("CartesianProduct"))
        assert(bad.isEmpty, s"$name planned $bad on the x$R slice:\n" +
          df.queryExecution.executedPlan.toString)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
