package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Round-4 laws: the streaming sessionizer and its batch
  * gaps-and-islands twin must produce identical sessions, and the batch
  * twin's window is key-partitioned (scale-safe). */
class Round4Spec extends SparkTestBase {
  import spark.implicits._

  test("sessionizeBatch: known tiny fixture") {
    val e = Seq(
      ("a", 1000L, 1.0), ("a", 2000L, 2.0),   // session 1: gap 1s
      ("a", 10000L, 3.0),                     // session 2 (gap 8s > 5s)
      ("b", 500L, 4.0)
    ).toDF("k", "ms", "v")
    val out = StreamOps.sessionizeBatch(e, "k", "ms", "v", 5000L)
      .orderBy("key", "session_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == Seq(
      ("a", 1000L, 2000L, 2L, 3.0),
      ("a", 10000L, 10000L, 1L, 3.0),
      ("b", 500L, 500L, 1L, 4.0)))
    // scale shape: every window is partitioned by key — no single-task sort
    val plan = StreamOps.sessionizeBatch(e, "k", "ms", "v", 5000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") ||
      !plan.contains("No Partition"), "window must be key-partitioned")
  }

  test("kafka source config maps onto the format(\"kafka\") option surface") {
    val cfg = StreamOps.KafkaSourceConfig(
      bootstrapServers = "broker1:9092,broker2:9092",
      topics = Seq("events", "audit"),
      startingOffsets = "latest",
      maxOffsetsPerTrigger = Some(50000L),
      extra = Map("kafka.security.protocol" -> "SASL_SSL"))
    val opts = cfg.toOptions
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "events,audit")
    assert(opts("startingOffsets") == "latest")
    assert(opts("maxOffsetsPerTrigger") == "50000")
    assert(opts("failOnDataLoss") == "true")
    assert(opts("kafka.security.protocol") == "SASL_SSL")
    // the connector jar is not in this container: load() must fail with
    // source-not-found, proving the builder reaches the provider lookup
    val ex = intercept[Exception] {
      StreamOps.readKafkaStream(spark, cfg)
    }
    assert(ex.getMessage.toLowerCase.contains("kafka"))
  }

  test("sessionize streaming output equals the batch gaps-and-islands twin") {
    val dir = graft.core.TempDirs.scratch("graft_sess_eq")
    val rng = new scala.util.Random(42)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME
      .withZone(java.time.ZoneOffset.UTC)
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    // per-key monotone timestamps with gaps straddling the 30-minute
    // threshold; integer values so double sums are order-exact
    val events = Seq("a", "b", "c").flatMap { k =>
      var t = base
      (0 until 60).map { i =>
        t += (rng.nextInt(7200) + 1) * 1000L // 1s .. 2h steps
        (k, t, i.toDouble)
      }
    }
    def line(k: String, ms: Long, v: Double) =
      s"""{"ts": "${fmt.format(java.time.Instant.ofEpochMilli(ms))}", "k": "$k", "v": $v}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      events.map((line _).tupled).mkString("", "\n", "\n"))
    val gap = 30 * 60 * 1000L
    val stream = StreamOps.readJsonStream(spark, dir,
      "ts TIMESTAMP, k STRING, v DOUBLE")
    val sessions = StreamOps.sessionize(stream, "k", "ts", "v",
      gapMillis = gap, watermark = "100 days")
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sess_eq").outputMode("append").start()
    val sentinelMs = base + 365L * 24 * 3600 * 1000
    try {
      q.processAllAvailable()
      // sentinel per key, one year out: its gap closes each live session
      // in-function; the sentinel session itself stays in state (never
      // emitted), so the emitted set is exactly the real sessions
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
        Seq("a", "b", "c").map(k => line(k, sentinelMs, 0.0))
          .mkString("", "\n", "\n"))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM sess_eq")
        .filter(col("session_start") < sentinelMs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val batch = StreamOps.sessionizeBatch(
          events.toDF("k", "ms", "v"), "k", "ms", "v", gap)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(streamed.nonEmpty && streamed == batch,
        s"streaming ${streamed.size} vs batch ${batch.size}; " +
          s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("law: bounded-heap topk = window topk, ties/nulls/asc/desc included") {
    val rnd = new scala.util.Random(41)
    // heavy ties (values 0..4), nulls in the sort col, skewed group
    val rows = (0 until 2000).map { i =>
      (s"g${rnd.nextInt(3)}",
       if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(5)),
       i % 7)
    }
    val df = spark.createDataFrame(rows).toDF("g", "v", "payload")
    for (k <- Seq(1, 3, 17); rev <- Seq(true, false)) {
      val viaAgg = core.XDF(df).sampleGroupByTopk(Seq("g"), "v", k, rev)
        .toDF.collect().map(_.toSeq).toSeq
      // the >MaxHeapK branch is the legacy window plan; compare against
      // the window expression directly
      val ord = if (rev) col("v").desc else col("v").asc
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
        .orderBy(ord, struct(df.columns.map(col): _*).asc)
      val viaWin = df.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") <= k).drop("__rn__")
        .collect().map(_.toSeq).toSeq
      // both implementations must return identical multisets
      assert(sortedMultiset(viaAgg) == sortedMultiset(viaWin),
        s"k=$k reverse=$rev: agg=${viaAgg.size} win=${viaWin.size}")
    }
  }

  private def sortedMultiset(rows: Seq[Seq[Any]]): Seq[String] =
    rows.map(_.mkString("|")).sorted

  test("law: native simhash16 == HOF simhash16, adversarial inputs included") {
    import graft.functions.TextOps
    val fixtures = Seq(
      "", " ", "  ", "a", " a", "a ", " a b  c\t d \n e ",
      "same same same different",
      "unicode nbsp stays one token", //   is not \s in Java regex
      "tabs\tand\nnewlines\rmix", "x " * 500, // long with trailing space
      (1 to 300).map(i => s"tok$i").mkString(" "))
    val rnd = new scala.util.Random(7)
    val rand = (0 until 200).map(_ =>
      (0 until rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(50)}").mkString(" "))
    val df = spark.createDataFrame(
      (fixtures ++ rand).zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("id", "text")
    val both = df.select(
      TextOps.simhash16(org.apache.spark.sql.functions.col("text")).as("native"),
      TextOps.simhash16Hof(org.apache.spark.sql.functions.col("text")).as("hof"))
      .collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1), s"mismatch: $r"))
    // null propagates
    val n = df.selectExpr("CAST(NULL AS STRING) AS t")
      .select(TextOps.simhash16(org.apache.spark.sql.functions.col("t")))
      .head()
    assert(n.isNullAt(0))
  }

  test("law: native wordShingles == HOF wordShingles, n=1..6") {
    import graft.functions.TextOps
    import org.apache.spark.sql.functions.col
    val fixtures = Seq(
      "", " ", "one", "one two", "a b c d e f g", " lead", "trail ",
      "tabs\tand\nnewlines mix d e f", "x " * 100,
      (1 to 50).map(i => s"w${i % 9}").mkString(" "))
    val rnd = new scala.util.Random(11)
    val rand = (0 until 100).map(_ =>
      (0 until rnd.nextInt(20)).map(_ => s"t${rnd.nextInt(12)}").mkString(" "))
    val df = spark.createDataFrame(
      (fixtures ++ rand).zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("id", "text")
    for (n <- 1 to 6) {
      val rows = df.select(
        TextOps.wordShingles(col("text"), n).as("native"),
        TextOps.wordShinglesHof(col("text"), n).as("hof")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n: ${r.getSeq[String](0)} != ${r.getSeq[String](1)}")
      }
    }
    val nullRow = df.selectExpr("CAST(NULL AS STRING) AS t")
      .select(TextOps.wordShingles(col("t"), 3)).head()
    assert(nullRow.isNullAt(0))
  }

  test("law: concatAsCols zip equals sort order; no unpartitioned window") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val left = rnd.shuffle((0 until 5000).toList).map(i => (i, s"L$i"))
      .toDF("k", "lv")
    val right = rnd.shuffle((0 until 5000).toList).map(i => (i, s"R${9999 - i}"))
      .toDF("j", "rv")
    val zipped = core.XDF(left).concatAsCols(core.XDF(right),
      Seq("k"), Seq("-j")).toDF
    assert(zipped.count() == 5000)
    // k ascending zips against j descending: k=i pairs with j=9999-i... j
    // descending means largest j first, so k=0 pairs with j=4999
    val rows = zipped.select("k", "j").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toMap
    (0 until 5000).foreach(i => assert(rows(i) == 4999 - i, s"k=$i -> ${rows(i)}"))
    // scale shape: the ordinal must not be a single-task global window
    val plan = core.XDF(left).concatAsCols(core.XDF(right), Seq("k"), Seq("j"))
      .toDF.queryExecution.executedPlan.toString
    assert(!raw"windowspecdefinition\([^(,]+ (ASC|DESC)".r
      .findFirstIn(plan).isDefined, "unpartitioned window in concatAsCols plan")
  }

  test("law: native fingerprint == HOF fingerprint, n=1..6") {
    import graft.functions.TextOps
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(17)
    val docs = Seq("", " ", "single", "a b c d e f", "trail ", " lead") ++
      (0 until 150).map(_ =>
        (0 until rnd.nextInt(25)).map(_ => s"v${rnd.nextInt(20)}").mkString(" "))
    val df = spark.createDataFrame(
      docs.zipWithIndex.map { case (t, i) => (i, t) }).toDF("id", "text")
    for (n <- Seq(1, 3, 5, 6)) {
      df.select(TextOps.fingerprint(col("text"), n).as("a"),
          TextOps.fingerprintHof(col("text"), n).as("b"))
        .collect()
        .foreach(r => assert(r.getString(0) == r.getString(1), s"n=$n: $r"))
    }
  }

  test("law: native minhash signature == HOF signature") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(23)
    val docs = Seq("", "one", "a b c d e f g h") ++
      (0 until 120).map(_ =>
        (0 until rnd.nextInt(25)).map(_ => s"m${rnd.nextInt(15)}").mkString(" "))
    val df = spark.createDataFrame(
      docs.zipWithIndex.map { case (t, i) => (i, t) }).toDF("id", "text")
    df.select(Dedup.minhashSignature(col("text"), 3, 6).as("a"),
        Dedup.minhashSignatureHof(col("text"), 3, 6).as("b"))
      .collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"$r"))
  }

  test("connectedComponents throws at maxIter instead of splitting components") {
    import graft.operators.GraphOps
    import spark.implicits._
    // the loop regime: at the default sizing this chain is labeled by
    // union-find in one task, which maxIter does not bound
    spark.conf.set("graft.loop.rowsPerPartition", "1")
    try {
      // 40-edge chain needs ~6 doubling rounds; 2 is not enough
      val chain = (0 until 40).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "target")
      val e = intercept[IllegalStateException] {
        GraphOps.connectedComponents(chain, maxIter = 2).count()
      }
      assert(e.getMessage.contains("did not converge"))
      // and with budget it converges to one component
      assert(GraphOps.connectedComponents(chain, maxIter = 10)
        .select("component").distinct().count() == 1L)
      // boundary: the MINIMAL sufficient budget must succeed (a graph
      // whose final allowed round completes convergence is converged —
      // the post-loop probe, not round exhaustion, decides)
      val minIter = (1 to 10).find { m =>
        try { GraphOps.connectedComponents(chain, maxIter = m).count(); true }
        catch { case _: IllegalStateException => false }
      }.get
      assert(GraphOps.connectedComponents(chain, maxIter = minIter)
        .select("component").distinct().count() == 1L)
      assert(minIter > 2)
    } finally spark.conf.unset("graft.loop.rowsPerPartition")
  }

  test("chunkByTokens: null text emits no chunks even with ANSI off") {
    import graft.operators.Packing
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text")
      val out = Packing.chunkByTokens(df, "text", 2)
        .select("doc_id", "chunk_index").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == Set((1L, 0L), (1L, 1L)), s"got $out")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("law: packGreedy bins respect capacity; oversized docs isolate") {
    import graft.operators.Packing
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val docsDf = (0 until 5000).map { i =>
      // mixed sizes incl. over-capacity outliers
      (i.toLong, if (i % 97 == 0) 1500L else 1L + rnd.nextInt(400))
    }.toDF("doc_id", "n_tok")
    val packed = Packing.packGreedy(docsDf, "n_tok", capacity = 1024L,
      orderCols = Seq("n_tok", "doc_id"))
    assert(packed.count() == 5000) // packing never drops or duplicates
    val bins = packed.groupBy("bin_id")
      .agg(sum("n_tok").as("total"), count(lit(1)).as("n"))
      .collect()
    // every bin fits the budget, except singleton bins holding one
    // over-capacity document
    bins.foreach { b =>
      val ok = b.getAs[Long]("total") <= 1024L || b.getAs[Long]("n") == 1L
      assert(ok, s"bin over capacity: $b")
    }
    // greedy locality: utilization beats half-full (the worst greedy
    // can do when no single doc exceeds half the capacity)
    val multi = bins.filter(_.getAs[Long]("n") > 1)
    val meanFill = multi.map(_.getAs[Long]("total")).sum.toDouble / multi.length
    assert(meanFill > 512.0, s"mean fill $meanFill suspiciously low")
  }

  test("chunkByTokens: exact windows, short docs, null text") {
    import graft.operators.Packing
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"), (2L, "x"), (3L, null.asInstanceOf[String]),
      (4L, (1 to 7).map("t" + _).mkString(" "))
    ).toDF("doc_id", "text")
    val out = Packing.chunkByTokens(df, "text", 3)
      .select("doc_id", "chunk_index", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, 0L, "a b c"), (1L, 1L, "d e"),
      (2L, 0L, "x"),
      (4L, 0L, "t1 t2 t3"), (4L, 1L, "t4 t5 t6"), (4L, 2L, "t7")))
  }
}
