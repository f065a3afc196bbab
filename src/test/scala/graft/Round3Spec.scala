package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{JsonFlattener, Sampling, XDF}
import graft.operators.{Dedup, GraphOps}
import graft.streaming.StreamOps

/** Round-3 verification mass: the specs the round-2 surface shipped
  * without — deep-graph closure laws, forwardEdgesOnly lifetime safety,
  * sampling laws, XDF bridge round-trips, sessionize late-merge,
  * reliable checkpointing, explodeJson cache scoping, and the
  * embedding-LSH recall law behind the raised defaults. */
class Round3Spec extends SparkTestBase {
  import spark.implicits._

  private def chain(n: Int, prefix: String = "n"): org.apache.spark.sql.DataFrame =
    (0 until n).map(i => (s"$prefix$i", s"$prefix${i + 1}"))
      .toDF("src", "target")

  // ===== closures deeper than the old one-hop maxIter =====

  test("ancestorClosure resolves a chain far deeper than maxIter rounds") {
    // 60-edge chain: one-hop-per-round truncated this at 20; doubling
    // covers 2^20 hops in the same budget
    val closure = GraphOps.ancestorClosure(chain(60))
    assert(closure.count() == 61L * 60 / 2)
    // the deepest node must see the root
    assert(closure.filter(col("node_id") === "n60" && col("anc") === "n0")
      .count() == 1)
  }

  test("ancestorClosure throws rather than return a truncated closure") {
    intercept[IllegalStateException] {
      GraphOps.ancestorClosure(chain(10), maxIter = 2).count()
    }
  }

  test("temporal closure: equal-ts deep chain reaches every ancestor") {
    val e = chain(30).withColumn("ts", lit(5L))
    val out = GraphOps.timeBasedForwardEdgesOnly(e, "ts", "t")
    val deepest = out.filter(col("target") === "n30")
      .select(col("t:src_paths")).head().getString(0)
    assert(deepest.split(",").length == 30, s"got $deepest")
  }

  test("temporal closure: lower last-ts via a longer path is not lost") {
    // a->b direct has last-ts 5; a->c->b arrives with last-ts 2, which is
    // what allows extending through b->d (ts 3) and d->e (ts 4). A
    // last-ts-only state with count-based convergence dropped exactly
    // this shape.
    val e = Seq(("a", "b", 5L), ("a", "c", 1L), ("c", "b", 2L),
      ("b", "d", 3L), ("d", "e", 4L)).toDF("src", "target", "ts")
    val out = GraphOps.timeBasedForwardEdgesOnly(e, "ts", "t")
    val got = out.select(col("target"), col("t:src_paths")).distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("b" -> "a,c", "c" -> "a", "d" -> "a,b,c",
      "e" -> "a,b,c,d"), s"got $got")
  }

  // ===== forwardEdgesOnly contract + lifetime safety =====

  test("forwardEdgesOnly: diamond DAG columns, stable across reruns") {
    val diamond = Seq(("r", "a"), ("r", "b"), ("a", "c"), ("b", "c"))
    // two independent builds + executions: the round-2 use-after-free
    // was a release race that only some executions hit
    (1 to 2).foreach { _ =>
      val out = GraphOps.forwardEdgesOnly(diamond.toDF("src", "target"), "f")
      val c = out.filter(col("target") === "c").head()
      assert(c.getAs[String]("f:src_paths") == "a,b,r")
      assert(c.getAs[String]("f:all_paths") == "a,b,r")
      assert(c.getAs[String]("f:ancestors") == "c,a,r|c,b,r")
      val a = out.filter(col("target") === "a").head()
      assert(a.getAs[String]("f:ancestors") == "a,r")
    }
  }

  test("forwardEdgesOnly: cycle edges are back edges; dead-ends emit no path") {
    val e = Seq(("x", "y"), ("y", "x"), ("r", "x")).toDF("src", "target")
    val out = GraphOps.forwardEdgesOnly(e, "f")
    val x = out.filter(col("target") === "x").head()
    // forward view keeps only r->x; full reachability still sees the cycle
    assert(x.getAs[String]("f:src_paths") == "r")
    assert(x.getAs[String]("f:all_paths") == "r,x,y")
    assert(x.getAs[String]("f:ancestors") == "x,r")
    // y's only parent edge is a back edge: recursion dead-ends, no path
    val y = out.filter(col("target") === "y").head()
    assert(y.getAs[String]("f:ancestors") == "")
  }

  test("forwardEdgesOnly throws when open paths outlive maxIter") {
    intercept[IllegalStateException] {
      GraphOps.forwardEdgesOnly(chain(25), "f", maxIter = 20).count()
    }
  }

  // ===== graph edge filters =====

  test("splitGraphFilter window semantics per decision row") {
    val edges = Seq(("s1", "p", 50L), ("s1", "p", 2000L), ("p", "s2", 150L),
      ("p", "s2", 50L), ("s1", "s2", 99L)).toDF("src", "target", "ts")
    val retained = Seq(("p", 100L, 1000L)).toDF("node_id", "ts_min", "ts_max")
    val kept = GraphOps.splitGraphFilter(edges, "ts", retained, _ => lit(false))
      .select("src", "target", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(kept == Set(("s1", "p", 50L), ("p", "s2", 150L), ("s1", "s2", 99L)))
  }

  test("applyTimeOrderBasedFilter strict drops the right edge of an all-inconsistent pairing") {
    val e = Seq(("a", "b", 10L), ("b", "c", 1L)).toDF("src", "target", "ts")
    val kept = GraphOps.applyTimeOrderBasedFilter(e, "ts", Nil, strictOrdering = true)
      .select("src", "target").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("a", "b")))
  }

  // ===== sampling laws =====

  test("sampleNWithReplacement: exact n, corpus-only, seed-deterministic") {
    val corpus = (1 to 10).map(i => s"row$i").toDF("v")
    val s1 = Sampling.sampleNWithReplacement(corpus, 25, seed = 11)
      .as[String].collect().sorted.toSeq
    assert(s1.length == 25)
    assert(s1.toSet.subsetOf((1 to 10).map(i => s"row$i").toSet))
    val s2 = Sampling.sampleNWithReplacement(corpus, 25, seed = 11)
      .as[String].collect().sorted.toSeq
    assert(s1 == s2)
    assert(Sampling.sampleNWithReplacement(corpus, 0, seed = 1).count() == 0)
  }

  test("sampleNWithWarn: pass-through within limit, sampled above") {
    val df = (1 to 8).toDF("v")
    assert(Sampling.sampleNWithWarn(df, 10, seed = 3).count() == 8)
    assert(Sampling.sampleNWithWarn(df, 5, seed = 3).count() == 5)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("sampleGroupByMaxUniqValuesPerClass: per-class cap law vs brute force") {
    val rows = Seq(
      ("g1", "x", "v1"), ("g1", "x", "v2"), ("g1", "y", "v1"),
      ("g1", "y", "v2"), ("g1", "y", "v3"), ("g2", "x", "v1"),
      ("g2", "y", "v4"))
    val df = rows.toDF("g", "cls", "v")
    val out = Sampling.sampleGroupByMaxUniqValuesPerClass(df, Seq("g"), "cls",
        "v", Map("x" -> 1), defMaxUniq = Some(2))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // independent reimplementation: rank distinct values per group by
    // (md5(value || \x01 || seed), value); keep rows whose value rank is
    // within their class's cap
    val expected = rows.groupBy(_._1).flatMap { case (_, grp) =>
      val ranked = grp.map(_._3).distinct
        .sortBy(v => (md5hex(v + "0"), v)).zipWithIndex.toMap
      grp.filter { case (_, cls, v) =>
        ranked(v) < (if (cls == "x") 1 else 2) }
    }.toSet
    assert(out == expected, s"got $out expected $expected")
  }

  test("sampleGroupByTopkIfReachedLimit: inert below limit, top-k above") {
    val df = XDF(Seq(("a", "1"), ("a", "3"), ("a", "2"), ("b", "9"))
      .toDF("g", "score"))
    assert(df.sampleGroupByTopkIfReachedLimit(10, Seq("g"), "score", 1)
      .df.count() == 4)
    val capped = df.sampleGroupByTopkIfReachedLimit(2, Seq("g"), "score", 1)
      .df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("a", "3"), ("b", "9")))
  }

  // ===== XDF bridge round-trips =====

  test("addMapAsRow fills defaults and rejects undefaulted gaps") {
    val df = XDF(Seq(("1", "x")).toDF("a", "b"))
    val out = df.addMapAsRow(Map("a" -> "2"), defaultVal = "d")
    assert(out.df.collect().map(_.toSeq).toSet ==
      Set(Seq("1", "x"), Seq("2", "d")))
    intercept[IllegalArgumentException] { df.addMapAsRow(Map("a" -> "2")) }
  }

  test("toMaps renders nulls empty and url-decodes mkstr keys") {
    val df = XDF(Seq(("1", null: String, "a%20b,c%2Cd"))
      .toDF("k", "empty", "c:url_encoded:mkstr"))
    val plain = df.toMaps()
    assert(plain == Seq(Map("k" -> "1", "empty" -> "",
      "c:url_encoded:mkstr" -> "a%20b,c%2Cd")))
    val decoded = df.toMaps(resolveUrlEncodedCols = true)
    assert(decoded == Seq(Map("k" -> "1", "empty" -> "",
      "c:mkstr" -> "a b,c,d")))
  }

  test("resolveUrlEncodedCols decodes and strips only the named suffix cols") {
    val df = XDF(Seq(("hello%20world", "stay%20put"))
      .toDF("u:url_encoded", "other:url_encoded"))
    val out = df.resolveUrlEncodedCols("u:url_encoded")
    assert(out.df.columns.toSeq == Seq("u", "other:url_encoded"))
    assert(out.df.head().getString(0) == "hello world")
    assert(out.df.head().getString(1) == "stay%20put")
  }

  test("toTuples / colsAsMap / colAsArray driver bridges") {
    val df = XDF(Seq(("k1", "v1"), ("k2", null: String)).toDF("k", "v"))
    assert(df.toTuples().toSet == Set(Seq("k1", "v1"), Seq("k2", "")))
    assert(XDF(Seq(("k1", "v1"), ("k2", "v2")).toDF("k", "v"))
      .colsAsMap("k", "v") == Map("k1" -> "v1", "k2" -> "v2"))
    intercept[IllegalArgumentException] {
      XDF(Seq(("k1", "a"), ("k1", "b")).toDF("k", "v")).colsAsMap("k", "v")
    }
    assert(df.colAsArray("v").toSet == Set("v1", ""))
    assert(XDF(Seq("a", "b", "a").toDF("c")).colAsArrayUniq("c").sorted ==
      Seq("a", "b"))
  }

  test("showGroupCount is display-only: returns the receiver unchanged") {
    val df = XDF(Seq(("a", "1"), ("a", "2"), ("b", "3")).toDF("g", "v"))
    val back = df.showGroupCount(Seq("g"), n = 5)
    assert(back.df.count() == 3)
    val sorted = df.showGroupCount(Seq("g"), n = 5, sortByKey = true)
    assert(sorted.df.columns.toSeq == Seq("g", "v"))
  }

  // ===== sessionize: out-of-order events merge into one past session =====

  test("sessionize merges consecutive too-old events into one provisional session") {
    val dir = graft.core.TempDirs.scratch("graft_late")
    def write(name: String, body: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), body)
    // batch 1 opens the live session at 12:00
    write("b1.json", """{"ts": "2024-01-01T12:00:00", "k": "a", "v": 1.0}""" + "\n")
    val stream = StreamOps.readJsonStream(spark, dir,
      "ts TIMESTAMP, k STRING, v DOUBLE")
    val sessions = StreamOps.sessionize(stream, "k", "ts", "v",
      gapMillis = 10 * 60 * 1000, watermark = "2 hours")
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("late_merge").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: two events above the watermark but older than the live
      // session's reach — they must merge into ONE closed session, not
      // split into singletons; 12:01 extends the live session
      write("b2.json",
        """{"ts": "2024-01-01T10:30:00", "k": "a", "v": 2.0}
          |{"ts": "2024-01-01T10:35:00", "k": "a", "v": 3.0}
          |{"ts": "2024-01-01T12:01:00", "k": "a", "v": 9.0}
          |""".stripMargin)
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT n_events, value_sum FROM late_merge ORDER BY session_start")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(out == Seq((2L, 5.0)), s"got $out")
    } finally q.stop()
  }

  // ===== reliable checkpointing =====

  test("connectedComponents reliable=true writes DFS checkpoints and matches local mode") {
    val dir = graft.core.TempDirs.scratch("graft_chk")
    sc.setCheckpointDir(dir)
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"))
      .toDF("src", "target")
    def labels(reliable: Boolean) =
      GraphOps.connectedComponents(edges, reliable = reliable)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val reliableLabels = labels(reliable = true)
    assert(reliableLabels == labels(reliable = false))
    assert(reliableLabels == Set(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "x"), ("y", "x"), ("p", "p"), ("q", "p"), ("r", "p")))
    // the reliable path must actually have written checkpoint files
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "reliable=true wrote no checkpoint files")
  }

  test("reliable=true on the multi-partition declared layout matches local mode") {
    // rowsPerPartition = 1 forces the distributed loops: CC's label
    // propagation and the closure's doubling, on declared hash layouts
    val rnd = new scala.util.Random(31)
    val graph = (1 to 60).map(_ => (f"n${rnd.nextInt(30)}%02d", f"n${rnd.nextInt(30)}%02d"))
      .toDF("src", "target")
    val dag = (1 to 60).map { _ =>
      val a = rnd.nextInt(20); (f"v$a%02d", f"v${a + 1 + rnd.nextInt(6)}%02d")
    }.toDF("src", "target")
    val runs = Seq[(String, Boolean => org.apache.spark.sql.DataFrame)](
      "connectedComponents" -> (r => GraphOps.connectedComponents(graph, reliable = r)),
      "ancestorClosure" -> (r => GraphOps.ancestorClosure(dag, reliable = r)))
    spark.conf.set("graft.loop.rowsPerPartition", "1")
    try runs.foreach { case (name, run) =>
      val dir = graft.core.TempDirs.scratch(s"graft_chk_$name")
      sc.setCheckpointDir(dir)
      val reliable = run(true)
      assert(reliable.rdd.getNumPartitions > 1, s"$name: the loop ran on one partition")
      assert(reliable.collect().toSet == run(false).collect().toSet, name)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"$name: reliable=true wrote no checkpoint files")
    } finally spark.conf.unset("graft.loop.rowsPerPartition")
  }

  // ===== explodeJson inference cache scoping =====

  test("explodeJson inference cache is released by releaseInferredCaches") {
    val before = sc.getPersistentRDDs.keySet
    val df = Seq("""{"a": 1, "b": {"c": "x"}}""", """{"a": 2, "b": {"c": "y"}}""")
      .toDF("js")
    val out = JsonFlattener.explodeJson(df, "js", "p")
    assert(out.count() == 2)
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "inference should persist its input")
    JsonFlattener.releaseInferredCaches()
    // unpersist(blocking = false) is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while ((sc.getPersistentRDDs.keySet & during).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert((sc.getPersistentRDDs.keySet & during).isEmpty,
      "inference cache still resident after release")
  }

  // ===== corpus mixing laws =====

  test("mixBySource: proportions approximate weights, binding source whole, deterministic") {
    val rows = (0 until 600).map(i =>
      (i.toLong, if (i < 400) "big" else if (i < 500) "mid" else "small"))
    val df = rows.toDF("id", "source")
    // weights 1:1:1 with n = 400/100/100: binding source is mid/small
    // (c = 100), so big downsamples to ~100 and mid/small pass whole
    val mixed = Sampling.mixBySource(df, "source",
      Map("big" -> 1.0, "mid" -> 1.0, "small" -> 1.0), Seq("id"))
    val bySrc = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("mid") == 100 && bySrc("small") == 100)
    assert(math.abs(bySrc("big") - 100) < 40, s"big kept ${bySrc("big")}")
    // deterministic: identical output on rerun
    val again = Sampling.mixBySource(df, "source",
      Map("big" -> 1.0, "mid" -> 1.0, "small" -> 1.0), Seq("id"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(again == mixed.as[(Long, String)].collect().sorted.toSeq)
    // unweighted sources drop
    val onlyMid = Sampling.mixBySource(df, "source", Map("mid" -> 1.0), Seq("id"))
    assert(onlyMid.select("source").distinct().as[String].collect().toSeq ==
      Seq("mid"))
    intercept[IllegalArgumentException] {
      Sampling.mixBySource(df, "source", Map("mid" -> -1.0), Seq("id"))
    }
  }

  test("flattenClasses: alpha=1 is identity, alpha=0 flattens toward uniform, min class whole") {
    val rows = (0 until 1000).map(i =>
      (i.toLong, if (i < 800) "big" else if (i < 960) "mid" else "small"))
    val df = rows.toDF("id", "cls")
    // alpha = 1: natural distribution untouched
    assert(Sampling.flattenClasses(df, "cls", 1.0, Seq("id")).count() == 1000)
    val flat = Sampling.flattenClasses(df, "cls", 0.0, Seq("id"))
      .groupBy("cls").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha = 0: every class targets n_min = 40; the min class passes
    // whole, others are Bernoulli around 40
    assert(flat("small") == 40)
    assert(math.abs(flat("big") - 40) < 25, s"big kept ${flat("big")}")
    assert(math.abs(flat("mid") - 40) < 25, s"mid kept ${flat("mid")}")
    intercept[IllegalArgumentException] {
      Sampling.flattenClasses(df, "cls", 1.5, Seq("id"))
    }
  }

  // ===== decontamination laws =====

  test("decontaminate: n-gram overlap removal, threshold, null-text survival") {
    val corpus = Seq((1L, "the quick brown fox jumps"),
      (2L, "totally unrelated words right here"),
      (3L, null: String)).toDF("doc_id", "text")
    val eval = Seq("quick brown fox benchmark question").toDF("text")
    val report = Dedup.contaminationReport(corpus, "doc_id", "text",
        eval, "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // only "quick brown fox" is shared
    assert(report == Map(1L -> 1L))
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", eval, "text",
        n = 3).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    // a 2-hit threshold spares the single-overlap doc
    val keptAll = Dedup.decontaminate(corpus, "doc_id", "text", eval, "text",
        n = 3, minMatches = 2).select("doc_id").as[Long].collect().toSet
    assert(keptAll == Set(1L, 2L, 3L))
  }

  // ===== embedding-LSH recall law behind the raised defaults =====

  test("embedding LSH: multi-table recall dominates single-table and nears brute force") {
    val rng = new scala.util.Random(42)
    val dim = 64
    // 12 clusters of 4 near-identical vectors; cross-cluster cosine ~ 0
    val vecs = (0 until 12).flatMap { c =>
      val base = Array.fill(dim)(rng.nextGaussian().toFloat)
      (0 until 4).map { m =>
        (c * 4 + m, base.map(x => x + 0.05f * rng.nextGaussian().toFloat))
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    def pairs(bits: Int, tables: Int, brute: Boolean = false) =
      Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", threshold = 0.9,
          signBits = bits, bruteForce = brute, tables = tables)
        .select("id_a", "id_b").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    val truth = pairs(0, 1, brute = true)
    assert(truth.nonEmpty)
    val oneTable = pairs(12, 1)
    val fourTables = pairs(12, 4)
    // LSH can only lose candidates, never invent pairs past the exact
    // cosine filter
    assert(oneTable.subsetOf(truth) && fourTables.subsetOf(truth))
    // seed-0 table is one of the four: recall is monotone in tables
    assert(oneTable.subsetOf(fourTables))
    val recall = fourTables.size.toDouble / truth.size
    assert(recall >= 0.7, s"4-table recall $recall")
  }

  test("weightedSampleN (A-ES): exact n, deterministic, seed-sensitive, weight-monotone") {
    val df = (0 until 200).map(i => (i.toLong, if (i < 100) 8.0 else 1.0))
      .toDF("id", "w")
    val a = Sampling.weightedSampleN(df, 20, col("w"), Seq("id"), "s1")
      .select("id").as[Long].collect().sorted.toSeq
    val b = Sampling.weightedSampleN(df, 20, col("w"), Seq("id"), "s1")
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b && a.length === 20)
    assert(a !== Sampling.weightedSampleN(df, 20, col("w"), Seq("id"), "s2")
      .select("id").as[Long].collect().sorted.toSeq)
    // inclusion is weight-monotone: over 30 seeds, the weight-8 half is
    // picked far more often than the weight-1 half (E[heavy] ~ 17/20)
    val heavyCounts = (0 until 30).map { s =>
      Sampling.weightedSampleN(df, 20, col("w"), Seq("id"), s"seed$s")
        .select("id").as[Long].collect().count(_ < 100)
    }
    val mean = heavyCounts.sum.toDouble / heavyCounts.length
    assert(mean > 14.0 && mean <= 20.0, s"mean heavy picks $mean")
  }

  test("weightedSampleN excludes null/zero/negative weights; portable raises on non-power-of-two") {
    val df = Seq((1L, java.lang.Double.valueOf(2.0)),
      (2L, java.lang.Double.valueOf(0.0)), (3L, null.asInstanceOf[java.lang.Double]),
      (4L, java.lang.Double.valueOf(-1.0)), (5L, java.lang.Double.valueOf(1.0)))
      .toDF("id", "w")
    val kept = Sampling.weightedSampleN(df, 10, col("w"), Seq("id"), "0")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 5L))
    val bad = Seq((1L, 3L)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.weightedSampleNPortable(bad, 1, col("w"), Seq("id"), "0").collect()
    }
    assert(e.getMessage.contains("power of two") ||
      String.valueOf(e.getCause).contains("power of two"))
  }

  test("weightedSampleNPortable: all-equal weights reduce to the md5 bottom-k order") {
    val df = (0 until 300).map(i => (i.toLong, 4L)).toDF("id", "w")
    val got = Sampling.weightedSampleNPortable(df, 25, col("w"), Seq("id"), "7")
      .select("id").as[Long].collect().sorted.toSeq
    // equal weights: u^(1/4) is monotone in u, so top-25 by key is
    // top-25 by the raw md5 fraction — recompute driver-side
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Long = {
      val hex = md.digest(s"$id\u00017".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = (0L until 300L).sortBy(i => (-u(i), i)).take(25).sorted.toSeq
    assert(got === expected)
  }
}
