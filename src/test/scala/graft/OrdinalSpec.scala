package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.XDF
import graft.sources.ParquetIO

/** The distributed ordinals (`XDF.globalOrdinal`, `scanOrdinal` and the
  * operators built on them) number rows as `row_number()` over a global
  * window would: a small one-file input's `globalOrdinal` as a plain plan
  * (no job until its consumer runs), other inputs in one checkpoint job
  * and a counts job more for a multi-partition one, and with no
  * broadcast job. */
class OrdinalSpec extends SparkTestBase {

  /** 60 rows: `k` in 0..6 with repeats (ties) and nulls, `s` unique. */
  private def rows: DataFrame = spark.range(60).select(
    when(col("id") % 9 === 4, lit(null)).otherwise((col("id") * 13) % 7).as("k"),
    concat(lit("s"), lpad(col("id").cast("string"), 2, "0")).as("s"))

  private def table(name: String, files: Int): String = {
    val p = s"${graft.core.TempDirs.scratch("graft_ordinal")}/$name"
    rows.repartition(files).write.parquet(p)
    p
  }

  private lazy val oneFile = table("one", 1)
  private lazy val threeFiles = table("three", 3)
  private def read(p: String): DataFrame = ParquetIO.read(spark, p)

  private def coalescingOff[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  /** (sort keys, ordinal) pairs, the part of a numbering that ties leave
    * determined, in ordinal order. */
  private def numbered(df: DataFrame, keys: Seq[String], ord: String): Seq[Row] =
    df.select((keys :+ ord).map(col): _*).orderBy(ord).collect().toSeq

  private def rowNumber(df: DataFrame, order: Seq[Column], ord: String): DataFrame =
    df.withColumn(ord, row_number().over(Window.orderBy(order: _*)).cast("long"))

  test("law: globalOrdinal equals row_number() over the same order") {
    val orders = Seq(Seq(col("k")), Seq(col("k").desc_nulls_last), Seq(col("k"), col("s").desc))
    for ((input, label) <- Seq(
           (() => read(threeFiles), "3 files, coalescing off"),
           (() => read(oneFile), "1 file"),
           (() => read(oneFile).filter(col("k") > 100), "empty"));
         order <- orders) {
      val keys = Seq("k", "s")
      val want = numbered(rowNumber(input(), order, "rn"), keys, "rn")
      val got = coalescingOff(numbered(XDF.globalOrdinal(input(), order, "rn"), keys, "rn"))
      if (order.size == 1) // ties: only (k, rn) is determined
        assert(got.map(r => (r.get(0), r.get(2))) == want.map(r => (r.get(0), r.get(2))),
          s"$label, $order")
      else assert(got == want, s"$label, $order")
      assert(got.map(_.getLong(2)) == (1L to want.size.toLong), s"$label, $order")
    }
  }

  test("globalOrdinalWithCount's count equals count()") {
    for (input <- Seq(read(threeFiles), read(oneFile), read(oneFile).filter(col("k") > 100))) {
      val (_, n) = coalescingOff(XDF.globalOrdinalWithCount(input, Seq(col("k")), "rn"))
      assert(n == input.count())
    }
  }

  test("scanOrdinal keeps file order, 0-based or from a base") {
    for (input <- Seq(read(threeFiles), read(oneFile))) {
      val want = input.collect().toSeq
      val got = XDF.scanOrdinal(input, "i").orderBy("i").collect().toSeq
      assert(got.map(r => Row(r.get(0), r.get(1))) == want)
      assert(got.map(_.getLong(2)) == want.indices.map(_.toLong))
      assert(XDF.scanOrdinal(input, "i", base = 5L).agg(min("i")).head().getLong(0) == 5L)
    }
  }

  test("addSeqNum, concatAsCols and windowAggregate number rows as the global window does") {
    coalescingOff {
      val d = read(threeFiles)
      val seq = XDF(d).addSeqNum("sno", Seq("s")).toDF
      assert(seq.columns.head == "sno")
      assert(numbered(seq, Seq("s"), "sno").map(r => (r.getString(0), r.getInt(1).toLong)) ==
        numbered(rowNumber(d, Seq(col("s")), "sno"), Seq("s"), "sno")
          .map(r => (r.getString(0), r.getLong(1))))
      // s ascending zips against s descending
      val zipped = XDF(d.select("s")).concatAsCols(
        XDF(d.select(col("s").as("t"))), Seq("s"), Seq("-t")).toDF.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val ss = d.select("s").collect().map(_.getString(0)).sorted
      assert(zipped == ss.zip(ss.reverse).toMap)
      // windows of 2 consecutive distinct k values (nulls excluded)
      val ks = d.select("k").collect().filterNot(_.isNullAt(0)).map(_.getLong(0))
      val want = ks.distinct.map(_.toString).sorted.grouped(2).map { w =>
        (s"${w.head} - ${w.last}", ks.count(k => w.contains(k.toString)).toLong)
      }.toSet
      val got = graft.core.WindowOps.windowAggregate(d, "k", Seq("k"), Seq("count"), 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  /** Jobs run, and whether any ran a broadcast exchange, while `body` runs. */
  private def jobScopes[A](body: => A): (A, Int, Boolean) = {
    val scopes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(_.rddInfos.foreach(_.scope.foreach(s => scopes.add(s.name))))
    }
    sc.addSparkListener(l)
    try {
      val (out, jobs) = jobsOf(body)
      (out, jobs, scopes.stream().anyMatch(_.contains("BroadcastExchange")))
    } finally sc.removeSparkListener(l)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("job laws: one file: 0 builder jobs, 1 write; no broadcast; counts job above one") {
    for ((input, label) <- Seq((() => read(oneFile), "one-file"),
                               (() => read(oneFile).filter(col("k") > 100), "empty"))) {
      // a plain plan: the sort and the numbering run in the consumer's job
      val (o, builder, b1) = jobScopes(XDF.globalOrdinal(input(), Seq(col("k")), "rn"))
      assert(builder == 0, s"$label input's builder ran $builder jobs")
      val (_, write, b2) = jobScopes(noop(o))
      assert(write == 1, s"a noop write of the $label ordinal ran $write jobs")
      assert(!(b1 || b2), s"the $label ordinal ran a BroadcastExchange job")
    }
    // the range sample, its map stage, the checkpoint and one counts job
    // (offsets joined by broadcast took 6: a counts aggregate's map stage
    // and result and the broadcast, for the one counts job)
    val (_, multi, b3) = coalescingOff(jobScopes(
      XDF.globalOrdinal(read(threeFiles), Seq(col("k")), "rn")))
    assert(multi <= 4, s"3-file input ran $multi jobs")
    val (_, scan, bs) = jobScopes(XDF.scanOrdinal(read(threeFiles), "i"))
    assert(scan == 2, s"scanOrdinal over 3 files ran $scan jobs")
    assert(!(b3 || bs), "an ordinal ran a BroadcastExchange job")
  }

  /** Whether `df` reads a checkpoint leaf. */
  private def readsLeaf(df: DataFrame): Boolean = df.queryExecution.analyzed.collectLeaves()
    .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  test("law: under the shipped session a one-file ordinal is a plan == row_number()") {
    val orders = Seq(Seq(col("k")), Seq(col("k").desc), Seq(col("k").desc_nulls_last),
      Seq(col("k"), col("s").desc))
    for ((input, label) <- Seq((() => read(oneFile), "1 file"),
                               (() => read(oneFile).filter(col("k") > 100), "empty"));
         order <- orders) {
      val keys = Seq("k", "s")
      val want = numbered(rowNumber(input(), order, "rn"), keys, "rn")
      val (o, builder) = jobsOf(XDF.globalOrdinal(input(), order, "rn"))
      assert(builder == 0 && !readsLeaf(o), s"$label, $order: $builder builder jobs")
      val got = numbered(o, keys, "rn")
      if (order.size == 1) // ties: only (k, rn) is determined
        assert(got.map(r => (r.get(0), r.get(2))) == want.map(r => (r.get(0), r.get(2))),
          s"$label, $order")
      else assert(got == want, s"$label, $order")
      assert(got.map(_.getLong(2)) == (1L to want.size.toLong), s"$label, $order")
    }
  }

  test("law: two actions and a self-join on the ordinal read one plan-path numbering") {
    val o = XDF.globalOrdinal(read(oneFile), Seq(col("k")), "rn")
    assert(!readsLeaf(o))
    val pairs = () => o.select("k", "rn").orderBy("rn").collect().toSeq
    val first = pairs()
    assert(first == pairs() && first.map(_.getLong(1)) == (1L to 60L))
    // each side of the join numbers the rows itself
    val joined = o.select(col("rn"), col("k"), col("s"))
      .join(o.select(col("rn"), col("k").as("k2"), col("s").as("s2")), "rn").collect()
    assert(joined.length == 60 && joined.forall(r => r.get(1) == r.get(3) && r.get(2) == r.get(4)))
  }

  test("law: a plan-path ordinal joined to 3 parts or unioned with 3 files numbers 1..n") {
    val o = XDF.globalOrdinal(read(oneFile), Seq(col("s")), "rn")
    assert(!readsLeaf(o))
    val want = numbered(rowNumber(read(oneFile), Seq(col("s")), "rn"), Seq("s"), "rn")
    for (confs <- Seq(Seq.empty[(String, String)],
                      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))) {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val three = read(threeFiles).select("s").repartition(3, col("s"))
        assert(numbered(three.join(o, "s"), Seq("s"), "rn") == want, confs)
        val unioned = o.select(col("s"), col("rn"))
          .unionByName(read(threeFiles).select(col("s"), lit(-1L).as("rn")))
        assert(numbered(unioned.filter(col("rn") > 0), Seq("s"), "rn") == want, confs)
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("rand(), 3 files and an input above minPartitionSize keep the checkpoint leaf") {
    def ordinal(d: DataFrame): (DataFrame, Int) = jobsOf(XDF.globalOrdinal(d, Seq(col("k")), "rn"))
    val (random, rj) = ordinal(read(oneFile).withColumn("r", rand(7)))
    // the leaf numbers the rows once, so two reads agree on every column
    assert(readsLeaf(random) && rj == 1, s"rand(): $rj builder jobs")
    assert(random.orderBy("rn").collect().toSeq == random.orderBy("rn").collect().toSeq)
    val (three, tj) = ordinal(read(threeFiles))
    assert(readsLeaf(three) && tj >= 1, s"3 files: $tj builder jobs")
    assert(three.select("rn").collect().map(_.getLong(0)).sorted.toSeq == (1L to 60L))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16")
    try {
      val (big, bj) = ordinal(read(oneFile))
      assert(readsLeaf(big) && bj >= 1, s"above minPartitionSize: $bj builder jobs")
      assert(big.select("rn").collect().map(_.getLong(0)).sorted.toSeq == (1L to 60L))
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
  }

  test("law: cumulativeSum without partition columns equals the global running window") {
    // values: halves (exact in binary, so no summation order can differ),
    // nulls, and strings with no double reading, which count as no value
    // under the shipped (ANSI) session
    val v = when(col("id") % 5 === 1, lit(null).cast("string"))
      .when(col("id") % 7 === 3, lit("x"))
      .otherwise((col("id") * 0.5).cast("string")).as("v")
    val p = s"${graft.core.TempDirs.scratch("graft_cumsum")}/three"
    spark.range(60).select(col("id"), v).repartition(3).write.parquet(p)
    def window(df: DataFrame): DataFrame = df.withColumn("cum", sum(col("v").try_cast("double"))
      .over(Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    for ((input, label) <- Seq(
           (() => read(p), "3 files"),
           (() => read(p).filter(col("id") >= 3), "no value before the first number"),
           (() => read(p).filter(col("id") > 100), "empty"))) {
      val want = window(input()).orderBy("id").collect().toSeq
      val (parts, got) = coalescingOff {
        val out = XDF(input()).cumulativeSum("v", "cum", Seq("id")).toDF
        (out.queryExecution.toRdd.getNumPartitions, out.orderBy("id").collect().toSeq)
      }
      // one partition out means the one-partition path ran
      if (label == "3 files") assert(parts > 1, "the multi-partition path did not run")
      assert(got == want, label)
    }
    // the partitioned (window) branch reads the same values
    val one = read(p).withColumn("par", lit(0))
    val partitioned = XDF(one).cumulativeSum("v", "cum", Seq("id"), Seq("par")).toDF
    assert(partitioned.orderBy("id").collect().toSeq == window(one).orderBy("id").collect().toSeq)
    // a one-file input: the sort and the window run in the leaf's one job
    val (_, jobs) = jobsOf(XDF(read(oneFile)).cumulativeSum("k", "cum", Seq("s")).toDF
      .write.format("noop").mode("overwrite").save())
    assert(jobs <= 2, s"one-file cumulativeSum ran $jobs jobs")
  }
}
