package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.sources.ParquetIO

/** graft.plans.OneJobPlan on global sorts: a global sort over a small
  * input that runs as one partition sorts that partition in place, with
  * no range exchange and no sample job, and returns the rows, in the
  * order, that the range exchange's sort returns. Wherever the input runs as more than one
  * partition, is above the size AQE's coalescing packs into one
  * partition, or AQE coalescing is off, and for user repartitions, the
  * range exchange stays. */
class SortInPlaceSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def scratch(name: String): String =
    s"${graft.core.TempDirs.scratch("graft_sort_in_place")}/$name"

  /** 40 rows: `k` unique but for one null, `g` in 0..3 with repeats and
    * nulls, `s` unique. */
  private def rows: DataFrame = spark.range(40).select(
    when(col("id") === 7, lit(null)).otherwise((col("id") * 37) % 101).as("k"),
    when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 4).as("g"),
    concat(lit("s"), col("id")).as("s"))

  private def table(name: String, files: Int): String = {
    val p = scratch(name)
    rows.repartition(files).write.parquet(p)
    p
  }

  private lazy val onePart = table("one", 1)

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

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The range exchanges of `df`'s executed plan, through AQE's stages. */
  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeLike] =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }

  private def assertInPlace(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(rangeExchanges(df).isEmpty && collect(plan) { case c: CoalesceExec => c }.nonEmpty,
      s"expected the sort in place:\n$plan")
  }

  private def assertRangeExchange(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(rangeExchanges(df).nonEmpty && collect(plan) { case c: CoalesceExec => c }.isEmpty,
      s"expected the range exchange:\n$plan")
  }

  /** `build()`'s rows under the shipped config, where the sort runs in
    * place, and with coalescing off, where the range exchange sorts:
    * the same rows in the same order. */
  private def sameAsRangeSort(build: () => DataFrame): Seq[Row] = {
    val on = build()
    val got = on.collect().toSeq
    assertInPlace(on)
    val want = coalescingOff {
      val off = build()
      val offRows = off.collect().toSeq
      if (offRows.nonEmpty) assertRangeExchange(off)
      offRows
    }
    assert(got == want)
    got
  }

  test("a global sort over a small one-file parquet scan runs one job for the whole action") {
    val df = read(onePart).orderBy("k")
    assert(jobsOf(noop(df))._2 == 1)
    // the same action with the range exchange: sample, map stage, result
    assert(coalescingOff(jobsOf(noop(read(onePart).orderBy("k"))))._2 > 1)
  }

  test("in-place sorts return the range exchange's rows and order: asc, desc, nulls, multi-key") {
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("k").asc), Seq(col("k").desc),
      Seq(col("k").asc_nulls_last), Seq(col("k").desc_nulls_first),
      Seq(col("g").asc_nulls_last, col("k").desc),
      Seq(col("g").desc_nulls_last, col("s").asc))
    orders.foreach { o =>
      val got = sameAsRangeSort(() => read(onePart).orderBy(o: _*))
      assert(got.size == 40, o)
    }
    // and the order is the one asked for
    val ks = sameAsRangeSort(() => read(onePart).orderBy(col("k").desc_nulls_last))
      .map(r => Option(r.getAs[java.lang.Long]("k")).map(_.longValue))
    assert(ks == ks.sortBy(k => (k.isEmpty, k.map(-_))))
  }

  test("an in-place sort after observe counts each row once") {
    sameAsRangeSort(() =>
      read(onePart).observe(Observation(), count(lit(1)).as("rows")).orderBy("k"))
    val obs = Observation()
    noop(read(onePart).observe(obs, count(lit(1)).as("rows")).orderBy("s"))
    assert(obs.get("rows") == 40L)
  }

  test("an in-place sort over a checkpoint leaf") {
    val leaf = bridge.checkpointLeaf(read(onePart), reliable = false)
    try sameAsRangeSort(() => leaf.orderBy(col("g").desc, col("k").asc_nulls_last))
    finally bridge.releaseCheckpoints(leaf)
  }

  test("a one-partition checkpoint leaf above the coalescing target keeps its range exchange") {
    // the advisory size stays at its 64 MB default: under parallelismFirst
    // AQE spreads an input above minPartitionSize over several partitions
    val leaf = bridge.checkpointLeaf(read(onePart), reliable = false)
    try withConf(tinyMinPartition) {
      assert(leaf.rdd.getNumPartitions == 1)
      val df = leaf.orderBy("k")
      val got = df.collect().toSeq
      assertRangeExchange(df)
      // AQE reads that exchange in more than one partition: a sort in
      // place would have run in one task
      assert(df.queryExecution.toRdd.getNumPartitions > 1, df.queryExecution.executedPlan)
      assert(got == read(onePart).orderBy("k").collect().toSeq)
    } finally bridge.releaseCheckpoints(leaf)
  }

  test("empty input sorts in place to no rows") {
    val empty = scratch("empty")
    rows.filter(lit(false)).coalesce(1).write.parquet(empty)
    assert(sameAsRangeSort(() => read(empty).orderBy("k")).isEmpty)
    assert(sameAsRangeSort(() => read(onePart).filter(col("s") === "none").orderBy("k")).isEmpty)
  }

  /** A coalesced partition of at least 16 bytes, so the 40-row table is
    * above the size AQE packs into one partition. */
  private val tinyMinPartition = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16"

  test("the range exchange stays: multi-split input, above the coalescing target, coalescing or AQE off") {
    val want = read(onePart).orderBy("k").collect().toSeq
    val multi = read(table("three", 3)).orderBy("k")
    assert(multi.collect().toSeq == want)
    assertRangeExchange(multi)
    withConf(tinyMinPartition) {
      val big = read(onePart).orderBy("k")
      assert(big.collect().toSeq == want)
      assertRangeExchange(big)
    }
    // without parallelismFirst the target is the advisory size
    withConf(tinyMinPartition,
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      assertInPlace(read(onePart).orderBy("k"))
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16") {
        val big = read(onePart).orderBy("k")
        assert(big.collect().toSeq == want)
        assertRangeExchange(big)
      }
    }
    coalescingOff {
      val off = read(onePart).orderBy("k")
      assert(off.collect().toSeq == want)
      assertRangeExchange(off)
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val off = read(onePart).orderBy("k")
      assert(off.collect().toSeq == want)
      assertRangeExchange(off)
    }
  }

  test("a user's repartitionByRange keeps its exchange") {
    val df = read(onePart).repartitionByRange(3, col("k")).orderBy("k")
    df.collect()
    assert(rangeExchanges(df).map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM),
      df.queryExecution.executedPlan)
  }

  test("a sort over a shuffle join with a 3-split side keeps its range exchange") {
    // the join's partition count is unknown when planned, and once its
    // shuffle stages have run it is what AQE makes of them together, not
    // one by one; the key columns alone keep the join small enough
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val right = read(table("three_right", 3)).select(col("k").as("k2"))
      val df = read(onePart).select("k").join(right, col("k") === col("k2")).orderBy("k")
      assert(df.collect().length == 39)
      assertRangeExchange(df)
    }
  }

  test("a sort over a shuffle join of two one-split files runs in one job") {
    // the key column alone: Spark bounds an inner join's size by the
    // product of its sides' estimates, and whole rows put it above 1 MB
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def joined(): DataFrame = {
        val right = read(onePart).select(col("k").as("k2"))
        read(onePart).select("k").join(right, col("k") === col("k2")).orderBy("k")
      }
      assert(sameAsRangeSort(() => joined()).length == 39)
      assert(jobsOf(noop(joined()))._2 == 1)
    }
  }

  test("a sort over a broadcast join's streamed side sorts in place") {
    val right = read(onePart).groupBy("g").agg(max("s").as("top"))
    val got = sameAsRangeSort(() =>
      read(onePart).join(broadcast(right), Seq("g"), "left").orderBy(col("k").desc))
    assert(got.size == 40)
  }

  test("planning starts no job: the rule reads partition counts from the plan") {
    val scan = read(onePart).orderBy("k")
    assert(jobsOf(scan.queryExecution.executedPlan)._2 == 0)
    assertInPlace(scan)
    // the broadcast side is planned, not executed
    val right = read(onePart).groupBy("g").agg(max("s").as("top"))
    val joined = read(onePart).join(broadcast(right), Seq("g")).orderBy("k")
    assert(jobsOf(joined.queryExecution.executedPlan)._2 == 0)
    assertInPlace(joined)
    // a scalar subquery in the scan's filter is not evaluated
    read(onePart).createOrReplaceTempView("sort_in_place_t")
    val sub = spark.sql(
      "SELECT * FROM sort_in_place_t WHERE k > (SELECT avg(k) FROM sort_in_place_t) ORDER BY k")
    assert(jobsOf(sub.queryExecution.executedPlan)._2 == 0)
    val got = sub.collect().toSeq
    assert(got.nonEmpty && got == coalescingOff(spark.sql(
      "SELECT * FROM sort_in_place_t WHERE k > (SELECT avg(k) FROM sort_in_place_t) ORDER BY k")
      .collect().toSeq))
  }
}
