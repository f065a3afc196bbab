package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS,
  REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.sources.ParquetIO

/** graft.plans.OneJobPlan at the partition boundary: a small plan that
  * runs as one partition end to end runs as one job and returns the rows
  * Spark's own plan (coalescing off) returns; wherever a part of the plan
  * runs as more than one partition, or its partition count is unknown,
  * the plan keeps its exchanges and broadcasts and still returns those
  * rows. */
class OneJobPlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def scratch(name: String): String =
    s"${graft.core.TempDirs.scratch("graft_one_job_plan")}/$name"

  /** 40 rows: `k` in 0..12 with repeats and nulls, `g` in 0..3, `s` unique. */
  private def rows: DataFrame = spark.range(40).select(
    when(col("id") % 11 === 7, lit(null)).otherwise((col("id") * 7) % 13).as("k"),
    (col("id") % 4).as("g"),
    concat(lit("s"), col("id")).as("s"))

  private def table(name: String, files: Int, df: => DataFrame = rows): String = {
    val p = scratch(name)
    df.repartition(files).write.parquet(p)
    p
  }

  private lazy val left = table("left", 1)
  /** keys 5..17 and nulls: some match `left`, some do not */
  private lazy val right = table("right", 1, rows.select(
    (col("k") + 5).as("k"), col("g"), concat(lit("r"), col("s")).as("r")).filter(col("g") =!= 2))
  private lazy val rightThree = table("right_three", 3, rows.select(
    (col("k") + 5).as("k"), col("g"), concat(lit("r"), col("s")).as("r")))

  private def read(p: String): DataFrame = ParquetIO.read(spark, p)

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def coalescingOff[A](body: => A): A =
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  private val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  /** `build()`'s rows, as a sorted multiset, equal with the rule on and
    * off (coalescing off); returns the executed frame of the rule-on run. */
  private def sameAsSpark(build: () => DataFrame): DataFrame = {
    val on = build()
    val got = sorted(on.collect().toSeq)
    val want = coalescingOff(sorted(build().collect().toSeq))
    assert(got == want, on.queryExecution.executedPlan)
    on
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeLike] =
    collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeLike => s }

  private def broadcasts(df: DataFrame): Seq[BroadcastExchangeLike] =
    collect(df.queryExecution.executedPlan) { case b: BroadcastExchangeLike => b }

  private def assertOneJob(build: () => DataFrame): Unit = {
    val df = sameAsSpark(build)
    assert(exchanges(df).isEmpty && broadcasts(df).isEmpty, df.queryExecution.executedPlan)
    assert(jobsOf(noop(build()))._2 == 1)
  }

  /** The plan kept the shuffles `EnsureRequirements` put in. */
  private def assertSparksPlan(df: DataFrame): Unit =
    assert(exchanges(df).exists(_.shuffleOrigin == ENSURE_REQUIREMENTS),
      s"expected Spark's exchanges:\n${df.queryExecution.executedPlan}")

  /** The bench fixture's shape for the three interactive gates below:
    * one-file orders (15000 rows) and customer (1500 rows) tables. */
  private lazy val benchShape: String = {
    val dir = scratch("bench_shape")
    spark.range(15000).select(col("id").as("o_orderkey"), (col("id") * 7 % 1500).as("o_custkey"),
      (col("id") % 997 * 10.5).as("o_totalprice"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"), lit("4-NOT SPECIFIED"),
        lit("5-LOW")), (col("id") % 5 + 1).cast("int")).as("o_orderpriority"),
      element_at(array(lit("O"), lit("F"), lit("P")), (col("id") % 3 + 1).cast("int"))
        .as("o_orderstatus"))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    spark.range(1500).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      (col("id") * 13 % 25).cast("int").as("c_nationkey"),
      (col("id") % 101 * 3.25).as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"), lit("HOUSEHOLD"),
        lit("MACHINERY")), (col("id") % 5 + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    // q_fuzz_52 loads lineitem for the edge kinds it does not run
    spark.range(100).select(col("id").as("l_orderkey"), (col("id") % 7).cast("int")
        .as("l_linenumber"), (col("id") % 50).cast("double").as("l_quantity"),
      (col("id") * 1.5).as("l_extendedprice"), lit("N").as("l_returnflag"),
      lit("O").as("l_linestatus"), (col("id") % 40).as("l_partkey"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_fuzz_52, q_graph_remove_cycles and q_sample_col_uniq each run exactly 1 job") {
    for (gate <- Seq("q_fuzz_52", "q_graph_remove_cycles", "q_sample_col_uniq")) {
      val build = () => SparkEntry.queries(gate)(spark, benchShape)
      val got = build().collect().toSeq
      assert(got.nonEmpty, gate)
      // the gates' presentation sorts fix the order, so compare it too
      assert(got == coalescingOff(build().collect().toSeq), gate)
      val (df, builderJobs) = jobsOf(build())
      assert(builderJobs == 0, s"$gate: the builder call ran $builderJobs jobs")
      val (_, jobs) = jobsOf(noop(df))
      assert(jobs == 1, s"$gate ran $jobs jobs\n${df.queryExecution.executedPlan}")
    }
  }

  test("two one-split files joined run as one job, with and without a broadcast hint") {
    for (how <- Seq("full_outer", "left_semi", "left_anti", "left_outer");
         hint <- Seq(false, true)) {
      val build = () => {
        val r = read(right).select(col("k").as("k2"), col("r"))
        read(left).join(if (hint) broadcast(r) else r, col("k") === col("k2"), how)
      }
      withClue(s"$how, hint=$hint: ")(assertOneJob(build))
    }
    // and a keyed aggregate over an inner join, sorted (two columns a side:
    // Spark bounds an inner join's size by the product of its sides')
    assertOneJob(() => read(left).select("k", "g").join(read(right).select("k", "r"), "k")
      .groupBy("k").agg(count(lit(1)).as("n"), max("r").as("r")).orderBy("k"))
  }

  test("a union of one-split scans into a join and an aggregate keeps its exchange") {
    // q_graph_merge_leaves' shape: a union of two one-partition scans runs
    // as two partitions, and no operator may zip 2 partitions with 1. The
    // aggregate's exchange above the join stays: Spark bounds the join's
    // size by the product of its sides', above the one-partition size
    val build = () => {
      val u = read(left).select("k", "g").union(read(right).select("k", "g"))
      val dims = read(right).groupBy("g").agg(min("r").as("r"))
      u.join(broadcast(dims), Seq("g")).groupBy("k").agg(count(lit(1)).as("n"), max("r").as("r"))
    }
    assertSparksPlan(sameAsSpark(build))
    // with the dimension joined as a plain hash join too
    withConf(noBroadcast)(assertSparksPlan(sameAsSpark(build)))
  }

  test("a union of two one-split scans under a sort or a keyed aggregate runs 1 job") {
    val u = () => read(left).select("k", "s").union(read(right).select(col("k"), col("r").as("s")))
    // `s` is unique: the sort fixes the order, so compare it too
    val bySort = () => u().orderBy("s")
    assert(bySort().collect().toSeq == coalescingOff(bySort().collect().toSeq))
    assertOneJob(bySort)
    assertOneJob(() => u().groupBy("k").agg(count(lit(1)).as("n"), max("s").as("s")))
  }

  test("one-split joined to 3-split or to a hash(k, 3) leaf keeps its exchanges") {
    val joined = () => read(left).join(read(rightThree).select(col("k"), col("r")), "k")
    val hashed = sameAsSpark(joined)
    assert(broadcasts(hashed).nonEmpty, hashed.queryExecution.executedPlan)
    withConf(noBroadcast)(assertSparksPlan(sameAsSpark(joined)))
    val leaf = bridge.checkpointLeaf(read(rightThree).repartition(3, col("k")), reliable = false,
      Seq("k"), Some(3))
    try {
      assert(leaf.rdd.getNumPartitions == 3)
      // the one-split side is shuffled to the leaf's layout; collapsing that
      // shuffle would zip 1 partition with 3
      withConf(noBroadcast) {
        val df = sameAsSpark(() => read(left).join(leaf.select(col("k"), col("r")), "k"))
        assertSparksPlan(df)
        assert(df.count() == read(left).join(read(rightThree).select(col("k"), col("r")), "k").count())
      }
      sameAsSpark(() => read(left).join(leaf.select(col("k"), col("r")), Seq("k"), "left_outer"))
    } finally bridge.releaseCheckpoints(leaf)
  }

  test("a persisted small aggregate joined to a 3-partition frame, broadcast off") {
    val agg = read(left).groupBy("k").agg(count(lit(1)).as("n")).persist()
    try withConf(noBroadcast) {
      val build = () => read(rightThree).join(agg, Seq("k"), "left_outer")
      assertSparksPlan(sameAsSpark(build))
      // the same with a one-split frame: the cached leaf's count is unknown
      assertSparksPlan(sameAsSpark(() => read(right).join(agg, Seq("k"))))
    } finally agg.unpersist()
  }

  test("NOT IN (a null-aware anti join) keeps its broadcast") {
    read(left).createOrReplaceTempView("one_job_l")
    read(right).createOrReplaceTempView("one_job_r")
    val sql = "SELECT * FROM one_job_l WHERE k NOT IN (SELECT k FROM one_job_r WHERE k > 10)"
    val df = sameAsSpark(() => spark.sql(sql))
    val joins = collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }
    assert(joins.exists(_.isNullAwareAntiJoin) && broadcasts(df).nonEmpty,
      df.queryExecution.executedPlan)
  }

  test("a user's repartition(3, k) keeps its exchange and the plan's") {
    val df = sameAsSpark(() => read(left).repartition(3, col("k")).groupBy("k").count())
    assert(exchanges(df).map(_.shuffleOrigin).contains(REPARTITION_BY_NUM),
      df.queryExecution.executedPlan)
  }

  test("above minPartitionSize, coalescing off or AQE off, Spark's plan stays") {
    val build = () => read(left).join(read(right).select(col("k"), col("r")), "k")
      .groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16") {
      assertSparksPlan(sameAsSpark(build))
      // a small broadcast join's build side above that size stays broadcast
      val df = sameAsSpark(() => read(left).join(broadcast(read(right)), Seq("k")))
      assert(broadcasts(df).nonEmpty, df.queryExecution.executedPlan)
    }
    coalescingOff(assertSparksPlan({ val df = build(); df.collect(); df }))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = build()
      assert(sorted(df.collect().toSeq) == coalescingOff(sorted(build().collect().toSeq)))
      assert(df.queryExecution.executedPlan.collect { case s: ShuffleExchangeLike => s }.nonEmpty)
    }
  }

  test("empty input runs as one job to no rows") {
    val empty = table("empty", 1, rows.filter(lit(false)))
    for (how <- Seq("inner", "full_outer", "left_anti"))
      assertOneJob(() => read(empty).join(read(right).select(col("k"), col("r")), Seq("k"), how)
        .groupBy("k").count())
    assert(read(empty).join(read(right), Seq("k")).collect().isEmpty)
  }
}
