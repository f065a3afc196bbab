package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Reshaping operators: explode / split / replicate / pivot / transpose
 * (reference: dataframe.py §2.8 — explode DF:4167-4290, split_str
 * DF:5257-5299, replicate_rows DF:4131-4162, reverse_transpose
 * DF:4791-4818, transpose DF:4767-4788, flatmap DF:4820-4845).
 *
 * Design difference from the reference: the reference discovers the
 * output schema by scanning the produced maps (DF:4198-4209), which needs
 * full materialization. Here generators declare their output schema so
 * the plan stays lazy and distributed; a schema-probing variant would
 * need two passes by construction.
 */
object Reshape {

  /** Generic UDTF: one row in, many rows out, via a declared-schema
    * generator. Spark-side this is a `flatMap` on Dataset[Row] — stays
    * fully distributed, no driver involvement. */
  def explodeRows(df: DataFrame, gen: Row => IterableOnce[Row],
                  outSchema: StructType): DataFrame =
    df.flatMap(gen)(Encoders.row(outSchema))

  /**
   * The reference's fully-generic `explode` surface (dataframe.py:
   * 4167-4290): `f(Map[col -> val]) -> Seq[Map[newcol -> val]]`, output
   * columns discovered FROM THE DATA (key union across produced maps,
   * DF:4198-4209), named `prefix:key` sorted, missing keys -> "".
   *
   * Two-phase by construction (Spark needs the schema before execution):
   * a distributed probe pass unions the produced key sets, then the
   * declared-schema flatMap runs — so `f` is invoked TWICE per row and
   * must be pure and cheap. Prefer `explodeRows` (declared schema, single
   * pass) where the caller knows the output shape, and
   * [[explodeMapsFetched]] where `f` performs remote or non-idempotent
   * work (it runs the generator exactly once per row).
   */
  def explodeMaps(df: DataFrame, cols: Seq[String],
                  f: Map[String, String] => Seq[Map[String, String]],
                  prefix: String, collapse: Boolean = true,
                  maxKeys: Int = 10000): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol}
    val inCols = cols
    def rowToMap(r: Row): Map[String, String] =
      inCols.zipWithIndex.map { case (c, i) =>
        c -> Option(r.get(r.fieldIndex(c))).map(_.toString).getOrElse("") }.toMap
    // pass 1: discover output keys (distributed agg of key sets). The
    // collect is what makes schema-from-data possible at all, so the key
    // count must be bounded: a pathological generator emitting millions
    // of distinct keys would OOM the driver AND produce a plan with
    // millions of columns. Fail loudly instead, over-fetching by one row
    // so "hit the cap exactly" and "exceeded it" are distinguishable.
    import df.sparkSession.implicits._
    val discovered = df.select(inCols.map(fcol): _*)
      .flatMap(r => f(rowToMap(r)).flatMap(_.keys))(Encoders.STRING)
      .distinct().limit(maxKeys + 1).collect()
    if (discovered.length > maxKeys)
      throw new IllegalStateException(
        s"explode: schema-from-data discovered more than $maxKeys distinct " +
          "output keys — a schema this wide is not viable as columns. " +
          "Declare the output schema with explodeRows(df, gen, outSchema) " +
          "(single-pass, no discovery), or raise maxKeys deliberately.")
    val keys = discovered.sorted.toSeq
    // pass 2: declared-schema fan-out
    val keep = if (collapse) df.columns.filterNot(inCols.contains).toSeq
               else df.columns.toSeq
    val outSchema = StructType(
      keep.map(c => df.schema(c)) ++
        keys.map(k => StructField(s"$prefix:$k", StringType)))
    df.flatMap { r =>
      f(rowToMap(r)).map { m =>
        Row.fromSeq(keep.map(c => r.get(r.fieldIndex(c))) ++
          keys.map(k => m.getOrElse(k, "")))
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Fetch-once variant of [[explodeMaps]] for EXPENSIVE or NON-IDEMPOTENT
   * generators — the per-row remote searches of the Jira / LogScale
   * clients (the reference fetches once per row, jira_ext.py:192-208).
   * [[explodeMaps]] invokes `f` twice per row (key-discovery probe, then
   * fan-out), which for a remote generator doubles API load and silently
   * drops any key that only appears in the second invocation's results
   * (non-idempotent remote data, paging drift). Here at most ONE
   * SUCCESSFUL generator invocation per row is used: the produced maps
   * materialize into a lineage-truncated intermediate (a local checkpoint),
   * output keys derive from that materialized data, and the fan-out
   * projects from it. The eager fetch job itself is still a Spark job,
   * so task retries (`spark.task.maxFailures`) or speculation can
   * re-invoke `f` for every row of a retried partition — only
   * post-checkpoint re-execution is guarded by default. Pass
   * `strictOnce = true` to make a re-attempted fetch task FAIL FAST
   * before invoking the generator (and disable speculation,
   * `spark.speculation=false`): a non-idempotent remote fan-out then
   * chooses loud failure over silent double-fetch — the partition may
   * have been partially fetched by the failed attempt, and only the
   * caller can decide whether re-driving it is safe. On executor loss
   * AFTER the checkpoint the job fails instead of silently re-fetching —
   * the right failure mode for non-idempotent remote calls.
   *
   * Retention: the checkpointed intermediate (kryo-serialized kept
   * columns + fetched maps) is a checkpoint leaf (`bridge.checkpointLeaf`):
   * inside a query scope ([[Caches.scoped]]) it is freed at the scope's
   * exit, so materialize the result (write / collect / checkpoint onward)
   * inside it; outside any scope it stays pinned in block-manager
   * memory/disk until the returned plan becomes unreachable and
   * ContextCleaner GCs it.
   * For pure in-memory generators prefer [[explodeMaps]] (no
   * materialization) or [[explodeRows]] (declared schema, single pass).
   */
  def explodeMapsFetched(df: DataFrame, cols: Seq[String],
                         f: Map[String, String] => Seq[Map[String, String]],
                         prefix: String, collapse: Boolean = true,
                         maxKeys: Int = 10000,
                         strictOnce: Boolean = false): DataFrame = {
    val inCols = cols
    def rowToMap(r: Row): Map[String, String] =
      inCols.map(c =>
        c -> Option(r.get(r.fieldIndex(c))).map(_.toString).getOrElse("")).toMap
    val keep = if (collapse) df.columns.filterNot(inCols.contains).toSeq
               else df.columns.toSeq
    val enc = Encoders.kryo[(Seq[Any], Seq[Map[String, String]])]
    val fetchedRows = df.map { r =>
      // strictOnce: a retried/speculative fetch task would re-invoke the
      // generator for every row of a partition the failed attempt may
      // have already partially fetched — fail fast instead, BEFORE any
      // generator call of the re-attempt (law: Round17Spec via
      // tools/StrictOnceProbe, which needs a maxFailures>1 master)
      if (strictOnce) {
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && (tc.attemptNumber > 0 || tc.stageAttemptNumber > 0))
          throw new IllegalStateException(
            "explodeMapsFetched(strictOnce=true): task re-attempt detected " +
              s"(task attempt ${tc.attemptNumber}, stage attempt " +
              s"${tc.stageAttemptNumber}) — refusing to re-invoke the " +
              "non-idempotent generator for a partition the failed attempt " +
              "may have partially fetched. Note: STAGE retries trip this " +
              "guard too — an upstream shuffle-fetch failure re-runs the " +
              "whole stage, so this error does not necessarily mean a task " +
              "in THIS stage failed or a duplicate fetch occurred. Disable " +
              "speculation (spark.speculation=false); re-drive the fan-out " +
              "only if the remote side tolerates duplicate fetches.")
      }
      (keep.map(c => r.get(r.fieldIndex(c))), f(rowToMap(r)))
    }(enc)
    // eager: the ONLY generator run, lineage cut here
    val fetched = org.apache.spark.sql.graft.bridge.checkpointLeaf(fetchedRows.toDF(),
      reliable = false).as(enc)
    val discovered = fetched
      .flatMap(_._2.iterator.flatMap(_.keys))(Encoders.STRING)
      .distinct().limit(maxKeys + 1).collect()
    if (discovered.length > maxKeys)
      throw new IllegalStateException(
        s"explode: schema-from-data discovered more than $maxKeys distinct " +
          "output keys — a schema this wide is not viable as columns. " +
          "Declare the output schema with explodeRows(df, gen, outSchema) " +
          "(single-pass, no discovery), or raise maxKeys deliberately.")
    val keys = discovered.sorted.toSeq
    val outSchema = StructType(
      keep.map(c => df.schema(c)) ++
        keys.map(k => StructField(s"$prefix:$k", StringType)))
    fetched.flatMap { case (kept, maps) =>
      maps.map(m => Row.fromSeq(kept ++ keys.map(k => m.getOrElse(k, ""))))
    }(Encoders.row(outSchema))
  }

  /** Split N string cols by `sep` into aligned row fan-out
    * (dataframe.py:5257-5299): arrays_zip keeps positions aligned, and
    * the reference's equal-length validation is implicit (zip pads with
    * null → surfaced as null cells). */
  def splitStr(df: DataFrame, cols: Seq[String], sep: String,
               prefix: String): DataFrame = {
    val zipped = arrays_zip(cols.map(c =>
      split(col(c), java.util.regex.Pattern.quote(sep)).as(c)): _*)
    val tmp = df.withColumn("__split__", explode(zipped))
    val withCols = cols.zipWithIndex.foldLeft(tmp) { case (d, (c, i)) =>
      d.withColumn(s"$prefix:$c", col("__split__").getField(c))
    }
    withCols.drop("__split__")
  }

  /** Per-value list fan-out from a Column expression producing an array
    * (dataframe.py:4820-4845 `flatmap`). */
  def flatmapCol(df: DataFrame, arrayExpr: Column, newCol: String): DataFrame =
    df.withColumn(newCol, explode(arrayExpr))

  /** Repeat each row `int(col)` times, capped at maxRepl
    * (dataframe.py:4131-4162). explode(sequence) — no driver loop. */
  def replicateRows(df: DataFrame, countCol: String, maxRepl: Int = 10000): DataFrame = {
    val n = least(col(countCol).cast(LongType), lit(maxRepl.toLong))
    df.withColumn("__repl__", explode_outer(
        when(n >= 1, sequence(lit(1L), n)).otherwise(array())))
      .filter(col("__repl__").isNotNull)
      .drop("__repl__")
  }

  /** Pivot — the reference's `reverse_transpose` (dataframe.py:4791-4818)
    * builds it from iterated joins; Spark's groupBy().pivot() is one
    * shuffle. Output columns `valcol:{keycol}:{value}` per reference
    * naming. Pass `values` when known to skip the distinct-scan job. */
  def reverseTranspose(df: DataFrame, groupCols: Seq[String], keyCol: String,
                       valCol: String, values: Seq[String] = Nil,
                       aggFunc: String = "first"): DataFrame = {
    val g = df.groupBy(groupCols.map(col): _*)
    val p = if (values.nonEmpty) g.pivot(keyCol, values) else g.pivot(keyCol)
    val out = p.agg(AggRegistry.expr(aggFunc, col(valCol)))
    val renames = out.columns.filterNot(groupCols.contains)
    renames.foldLeft(out)((d, c) =>
      d.withColumnRenamed(c, s"$valCol:$keyCol:$c"))
  }

  /** Display transpose of the first n rows: (col_name, row:1..n)
    * (dataframe.py:4767-4788). Driver-side by design — display utility. */
  def transpose(df: DataFrame, n: Int): DataFrame = {
    val rows = df.limit(n).collect()
    val header = df.columns
    val out = header.map { c =>
      Row.fromSeq(c +: rows.map(r => Option(r.get(header.indexOf(c))).map(_.toString).getOrElse("")).toSeq)
    }
    val schema = StructType(
      StructField("col_name", StringType) +:
        rows.indices.map(i => StructField(s"row:${i + 1}", StringType)))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
