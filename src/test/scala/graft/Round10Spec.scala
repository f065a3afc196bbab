package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/**
 * Round-10 hardening specs, each pinning a round-9 verdict/advice item:
 *  - the q_bucket_join GATE plans its join + aggregate with no hash
 *    shuffle (BucketingSpec proves the mechanism on its own tables; this
 *    proves the shipped gate), bucketed scans stay bucketed, and filters
 *    over a bucketed table still push down to the parquet reader;
 *  - explode_json's transpose-key discovery fails loudly past
 *    maxTransposeKeys instead of silently truncating the column set
 *    (the round-9 defect: limit-before-distinct sampled 10k ENTRIES);
 *  - operator persists (Dedup gram frames, JsonFlattener inference
 *    inputs) register in graft.core.Caches and release deterministically
 *    — no session-lifetime cache pins;
 *  - the window-fuzz family q_fuzz_36..43 carries rows at the smallest
 *    SF, so none of its oracle compares can go vacuous again (round 9
 *    shipped q_fuzz_43 comparing empty-to-empty).
 */
class Round10Spec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case other => other
  }

  // AQE wraps materialized exchanges in ShuffleQueryStageExec LEAVES — a
  // children-only walk counts zero in any adaptive plan (BucketingSpec's
  // negative control); descend through every stage wrapper.
  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] = {
    val out = scala.collection.mutable.ArrayBuffer[ShuffleExchangeLike]()
    def walk(q: SparkPlan): Unit = {
      q match {
        case s: ShuffleExchangeLike => out += s
        case s: ShuffleQueryStageExec => walk(s.plan)
        case s: QueryStageExec => walk(s.plan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
      }
      q.children.foreach(walk)
      q.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  private def fileScans(df: DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: ShuffleQueryStageExec => walk(s.plan)
        case s: QueryStageExec        => walk(s.plan)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(m.relation.cachedPlan)
        case f: FileSourceScanExec    => Seq(f)
      }.flatten
    walk(df.queryExecution.executedPlan)
  }

  test("gate plan audit: q_bucket_join joins and aggregates with no hash shuffle") {
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // tiny sf0.001 sides would broadcast, hiding the co-location proof
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_bucket_join")(spark, dir)
      df.collect() // finalize AQE
      val plan = unwrap(df.queryExecution.executedPlan)
      // the ONLY allowed exchange is the presentation orderBy's range
      // partitioning (which graft.plans.SortInPlace removes when the
      // sort's input is small and runs as one partition); a
      // HashPartitioning exchange means the join or the groupBy
      // re-shuffled data the buckets already co-located
      val hashShuffles = shuffles(plan).filter(_.outputPartitioning match {
        case _: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => true
        case _ => false
      })
      assert(hashShuffles.isEmpty,
        s"q_bucket_join re-shuffles on hash despite co-bucketed sides:\n" +
          hashShuffles.map(_.treeString.take(500)).mkString("\n"))
      // both scans must be bucketed reads of only the written columns
      val scans = fileScans(df)
      assert(scans.size >= 2, s"expected 2 bucketed scans, got ${scans.size}")
      scans.foreach { s =>
        assert(s.bucketedScan, s"scan lost its bucket spec: ${s.nodeName}")
        val read = s.requiredSchema.fieldNames.toSet
        val allowed = Set("o_orderkey", "o_custkey", "o_totalprice",
          "l_orderkey", "l_quantity", "l_extendedprice")
        assert(read.subsetOf(allowed), s"unpruned bucketed read: $read")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("plan audit: filters over a bucketed table push down to the parquet scan") {
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    // the gate has no post-write filter, so the pushdown story of the
    // bucketed READ path is proven here: a later filter over the bucketed
    // table must reach PushedFilters exactly as on a plain parquet scan
    SparkEntry.queries("q_bucket_join")(spark, dir) // ensures tables exist
    val tables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_b_orders"))
    assert(tables.nonEmpty, "q_bucket_join registered no bucketed orders table")
    val df = graft.sources.Bucketing.table(spark, tables.head)
      .filter(col("o_totalprice") > 1000.0)
      .select("o_orderkey", "o_totalprice")
    val scans = fileScans(df)
    assert(scans.nonEmpty, "no file scan under the bucketed table read")
    val pushed = scans.exists(_.metadata.get("PushedFilters")
      .exists(pf => pf != "[]" && pf.contains("o_totalprice")))
    assert(pushed, "filter over the bucketed table did not push down: " +
      scans.map(_.metadata.getOrElse("PushedFilters", "?")).mkString("; "))
  }

  test("explode_json transpose-key discovery fails loudly past maxTransposeKeys") {
    import spark.implicits._
    // 60 rows x 3 distinct keys each = 180 distinct keys in the group
    val rows = (0 until 60).map { i =>
      s"""{"g":[{"key":"k${i}_a","value":"1"},{"key":"k${i}_b","value":"2"},
          {"key":"k${i}_c","value":"3"}]}""".replaceAll("\n\\s*", "")
    }
    val df = rows.toDF("js")
    val ex = intercept[IllegalStateException] {
      graft.core.JsonFlattener.explodeJson(df, "js", "e",
        transposeColGroups = Seq("g"), maxTransposeKeys = 100)
    }
    assert(ex.getMessage.contains("transpose_col_groups") &&
      ex.getMessage.contains("maxTransposeKeys"),
      s"error must name the op and the escape hatch: ${ex.getMessage}")
    // at/under the cap the same payload transposes: 180 key columns
    val ok = graft.core.JsonFlattener.explodeJson(df, "js", "e",
      transposeColGroups = Seq("g"), maxTransposeKeys = 180)
    assert(ok.columns.count(_.startsWith("e:g:k")) == 180)
    assert(ok.where(col("`e:g:k0_b`") === "2").count() == 1)
    graft.core.Caches.release()
  }

  test("operator caches release deterministically (no session-lifetime pins)") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull).limit(200)
    // the ids of the session's persisted RDDs: the law follows only the
    // RDDs the two operator calls create, so leaves of earlier suites that
    // ContextCleaner frees meanwhile cannot move it
    def persisted: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    graft.core.Caches.release() // clean slate
    val before = persisted
    // both round-9 ADVICE offenders: the span gram frame and the bloom
    // eval-gram frame
    graft.operators.Dedup.duplicatedNgramSpans(docs, "doc_id", "text", 8).count()
    val eval = docs.filter(col("doc_id") % 17 === 0)
    graft.operators.Dedup
      .decontaminateBloom(docs, "doc_id", "text", eval, "text", n = 3).count()
    val created = persisted -- before
    assert(created.nonEmpty,
      "expected the operators to persist intermediates (did the persist move?)")
    graft.core.Caches.release()
    val pinned = created.intersect(persisted)
    assert(pinned.isEmpty,
      s"Caches.release() left operator frames pinned: RDDs ${pinned.toSeq.sorted}")
  }

  test("gate plan audit: q_etl_scan reads only the 2 selected date partitions") {
    assume(new java.io.File(s"$dir/events.parquet").exists())
    // GapSpec proves the mechanism on its own 3-row table; this proves
    // the SHIPPED gate: the fixture spans 30 days, the gate asks for
    // 20240102..20240103, and the executed scan must touch exactly those
    // 2 partitions (a full-scan-then-filter plan would read all 30)
    val df = SparkEntry.queries("q_etl_scan")(spark, dir)
    df.collect()
    val scans = fileScans(df).filter(_.relation.partitionSchema.fieldNames.contains("dt"))
    assert(scans.nonEmpty, "q_etl_scan has no dt-partitioned file scan")
    val s = scans.head
    assert(s.partitionFilters.exists(_.references.exists(_.name == "dt")),
      s"no partition filter on dt: ${s.partitionFilters}")
    assert(s.metrics("numPartitions").value == 2,
      s"expected 2 pruned date partitions, read ${s.metrics("numPartitions").value}")
  }

  test("every generated fuzz gate carries rows at the smallest SF (no vacuous oracles)") {
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    // round 9 shipped q_fuzz_43 comparing empty-to-empty everywhere and
    // q_fuzz_18/q_fuzz_37 empty at the driver's own gate SF; an empty
    // compare proves nothing, so EVERY generator-made gate (plus the two
    // existence-join hand gates, which went vacuous the same way) must
    // select rows at the smallest fixture
    val gates = SparkEntry.queries.keys.filter(_.startsWith("q_fuzz_")).toSeq.sorted ++
      Seq("q_anti_join", "q_semi_join",
        // the decontaminate trio went vacuous at sf1 in round 10 (a
        // corpus-scaling eval set saturated n-gram coverage at 10x);
        // their eval benchmarks are now pinned to ids < 500 — guard the
        // survivor side here, and check_oracle.py hard-fails any
        // empty-vs-empty compare at every driver-tested SF
        "q_contamination_report", "q_decontaminate", "q_decontaminate_bloom")
    val empty = gates.filter { g =>
      SparkEntry.queries(g)(spark, dir).limit(1).count() == 0
    }
    assert(empty.isEmpty,
      s"vacuous at sf0.001 — these gates compare empty-to-empty: $empty")
    graft.core.Caches.release()
  }
}
