package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/**
 * XDF — the fluent, immutable query surface mirroring the reference
 * `DataFrame` verb set (reference: python-packages/core/src/omigo_core/
 * dataframe.py). Every verb compiles to lazy Catalyst expressions on one
 * underlying `DataFrame`; nothing materializes until an action. That single
 * design change removes the reference's O(rows x steps) eager copying and
 * is what lets the identical API run on a 1000-executor cluster.
 *
 * Column-name conventions preserved: `:` namespacing, regex column
 * selection, `inputcol:funcname` aggregate outputs.
 */
case class XDF(df: DataFrame) {

  private def header: Seq[String] = df.columns.toSeq
  private def res(cols: Seq[String]): Seq[String] = ColumnResolver.resolve(cols, header)
  private def res1(col: String): Seq[String] = ColumnResolver.resolve(Seq(col), header)

  def toDF: DataFrame = df
  def numRows(): Long = df.count()
  def numCols: Int = df.columns.length
  def getHeader: Seq[String] = header

  // ===== §2.2 Projections / column ops =====

  /** Backtick-quoted literal name: header names may carry `.`/`[` (the
    * pseudo-array convention) which the bare attribute parser would
    * split as nested-field access. */
  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  /** Regex-capable projection (dataframe.py:120-162). */
  def select(cols: String*): XDF =
    XDF(df.select(res(cols).map(n => df.col(quoted(n))): _*))

  /** Exclusion projection (dataframe.py:164-182). */
  def notSelect(cols: String*): XDF =
    XDF(df.select(ColumnResolver.resolveNot(cols, header)
      .map(n => df.col(quoted(n))): _*))

  /** Select, creating missing plain columns as "" (dataframe.py:167-179). */
  def selectAndAddEmptyColsIfMissing(cols: String*): XDF = {
    val withMissing = cols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c) || ColumnResolver.isPattern(c)) d
      else d.withColumn(c, lit(""))
    }
    XDF(withMissing).select(cols: _*)
  }

  def dropCols(cols: String*): XDF = {
    val toDrop = ColumnResolver.resolve(cols, header, ignoreIfMissing = false)
    XDF(df.drop(toDrop: _*))
  }

  def dropColsIfExists(cols: String*): XDF = {
    val toDrop = ColumnResolver.resolve(cols, header, ignoreIfMissing = true)
    XDF(df.drop(toDrop: _*))
  }

  def dropColsWithPrefix(prefix: String): XDF =
    XDF(df.drop(header.filter(ColumnResolver.hasPrefix(_, prefix)): _*))

  def dropColsWithSuffix(suffix: String): XDF =
    XDF(df.drop(header.filter(ColumnResolver.hasSuffix(_, suffix)): _*))

  def dropColsWithPrefixExcept(prefix: String, keep: String*): XDF =
    XDF(df.drop(header.filter(c =>
      ColumnResolver.hasPrefix(c, prefix) && !keep.contains(c)): _*))

  /** Drop columns whose every value is "" / null. One aggregate pass
    * instead of the reference's per-column scans (dataframe.py:553-594). */
  def dropEmptyCols(): XDF = {
    // emptiness by type: only string/binary can cast to "" — numerics and
    // the rest are non-empty iff non-null. The sweep is ONE pass at the
    // InternalRow level rather than an N-aggregate `agg`: Catalyst
    // analysis + codegen of N max(when(...)) aggregates is quadratic in
    // column count (measured: 8.5s at 1000 cols, 37s at 5000 — all
    // driver-side), while this per-partition Boolean-array
    // sweep is linear, communicates the same per-partition bitmap a
    // map-side-combined agg would, and short-circuits a partition once
    // every column has been seen non-empty.
    val schema = df.schema
    val n = schema.length
    // 0 = string, 1 = binary, 2 = non-null-is-non-empty
    val kinds: Array[Int] = schema.fields.map(_.dataType match {
      case StringType => 0
      case BinaryType => 1
      case _          => 2
    }).toArray
    val (seen, sawRow) = df.queryExecution.toRdd.mapPartitions { it =>
      val s = new Array[Boolean](n)
      val nonEmptyPart = it.hasNext
      var remaining = n
      while (remaining > 0 && it.hasNext) {
        val row = it.next()
        var i = 0
        while (i < n) {
          if (!s(i) && !row.isNullAt(i)) {
            val nonEmpty = kinds(i) match {
              case 0 => row.getUTF8String(i).numBytes > 0
              case 1 => row.getBinary(i).length > 0
              case _ => true
            }
            if (nonEmpty) { s(i) = true; remaining -= 1 }
          }
          i += 1
        }
      }
      Iterator.single((s, nonEmptyPart))
    }.fold((new Array[Boolean](n), false)) { case ((a, ra), (b, rb)) =>
      var i = 0
      while (i < n) { a(i) = a(i) || b(i); i += 1 }
      (a, ra || rb)
    }
    // 0-row frame: return unchanged, matching the reference
    // (dataframe.py:560-562 short-circuits on num_rows() == 0).
    if (!sawRow) return this
    val empty = header.zipWithIndex.collect { case (c, i) if !seen(i) => c }
    XDF(df.drop(empty: _*))
  }

  /** Drop rows whose every field is "" (dataframe.py:618-635). */
  def dropEmptyRows(): XDF =
    XDF(df.filter(concat_ws("", header.map(c => col(c).cast(StringType)): _*) =!= ""))

  def rename(from: String, to: String): XDF = XDF(df.withColumnRenamed(from, to))

  private def renameAll(f: String => String): XDF =
    XDF(df.toDF(header.map(f): _*))

  /** Namespace renames (dataframe.py:2588-2830). Pure driver-side name
    * algebra — zero cost in the physical plan (projection only). */
  def addPrefix(prefix: String, cols: Seq[String] = null): XDF = {
    val target = if (cols == null) header else res(cols)
    renameAll(c => if (target.contains(c)) ColumnResolver.withPrefix(c, prefix) else c)
  }

  def addSuffix(suffix: String, cols: Seq[String] = null): XDF = {
    val target = if (cols == null) header else res(cols)
    renameAll(c => if (target.contains(c)) ColumnResolver.withSuffix(c, suffix) else c)
  }

  def removePrefix(prefix: String): XDF =
    renameAll(c => ColumnResolver.stripPrefix(c, prefix))

  def removeSuffix(suffix: String): XDF =
    renameAll(c => ColumnResolver.stripSuffix(c, suffix))

  def renamePrefix(oldP: String, newP: String): XDF =
    renameAll(c => if (ColumnResolver.hasPrefix(c, oldP))
      ColumnResolver.withPrefix(ColumnResolver.stripPrefix(c, oldP), newP) else c)

  def renameSuffix(oldS: String, newS: String): XDF =
    renameAll(c => if (ColumnResolver.hasSuffix(c, oldS))
      ColumnResolver.withSuffix(ColumnResolver.stripSuffix(c, oldS), newS) else c)

  // reference aliases (dataframe.py:2588-2830 exposes both spellings)
  def replacePrefix(oldP: String, newP: String): XDF = renamePrefix(oldP, newP)
  def replaceSuffix(oldS: String, newS: String): XDF = renameSuffix(oldS, newS)
  def addColPrefix(prefix: String, cols: String*): XDF =
    addPrefix(prefix, if (cols.isEmpty) null else cols)

  /** Move matching cols to the front (dataframe.py:2087-2145). */
  def reorder(cols: String*): XDF = {
    val front = res(cols)
    XDF(df.select((front ++ header.filterNot(front.contains))
      .map(n => df.col(quoted(n))): _*))
  }

  /** Move matching cols to the back (dataframe.py:2147-2158). */
  def reverseReorder(cols: String*): XDF = {
    val back = res(cols)
    XDF(df.select((header.filterNot(back.contains) ++ back)
      .map(n => df.col(quoted(n))): _*))
  }

  def copyCol(from: String, to: String): XDF = XDF(df.withColumn(to, col(from)))

  def addConst(name: String, value: Any): XDF = XDF(df.withColumn(name, lit(value)))

  def addConstIfMissing(name: String, value: Any): XDF =
    if (header.contains(name)) this else addConst(name, value)

  def addEmptyColsIfMissing(cols: String*): XDF =
    XDF(cols.foldLeft(df)((d, c) => if (d.columns.contains(c)) d else d.withColumn(c, lit(""))))

  def assignValue(name: String, value: Any): XDF = XDF(df.withColumn(name, lit(value)))

  /** 1-based sequence number, prepended (dataframe.py:1707-1729).
    * Ordered by `orderCols` to be deterministic under parallelism;
    * computed by XDF.globalOrdinal (a plain plan over an input that
    * already runs as one small partition, else a global sort + local
    * positions + per-partition offsets) — no single-task window. */
  def addSeqNum(name: String = "sno", orderCols: Seq[String]): XDF =
    XDF(XDF.globalOrdinal(df, orderCols.map(col), name)
      .withColumn(name, col(name).cast("int"))).reorder(name)

  /** Append one row given as a column->value map (dataframe.py:2530-2560
    * add_map_as_row): missing columns take `defaultVal`; a missing column
    * with no default is an error. */
  def addMapAsRow(mp: Map[String, String], defaultVal: String = null): XDF = {
    val values = header.map { h =>
      mp.getOrElse(h, {
        require(defaultVal != null,
          s"Column not present in map and default value is not defined: $h")
        defaultVal
      })
    }
    addRow(values)
  }

  /** Append one literal row (dataframe.py:2499-2528). */
  def addRow(values: Seq[Any]): XDF = {
    require(values.length == header.length, "row width mismatch")
    val schema = df.schema
    val coerced = values.zip(schema.fields).map { case (v, f) => coerce(v, f.dataType) }
    val one = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(coerced)), schema)
    XDF(df.union(one))
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, LongType) => s.toLong
    case (s: String, IntegerType) => s.toInt
    case (s: String, DoubleType) => s.toDouble
    case (x, StringType) => x.toString
    case (x, _) => x
  }

  // ===== §2.3 Filters =====

  def where(cond: Column): XDF = XDF(df.filter(cond))
  def filterCond(cond: Column): XDF = where(cond)

  /** Apply a predicate over every column matching the pattern, OR-folded
    * when anyMatch, AND-folded otherwise. Backs the multi-col exists
    * family (dataframe.py:1211-1317). */
  def filterAnyCols(cols: Seq[String], pred: Column => Column): XDF =
    XDF(df.filter(res(cols).map(c => pred(col(c))).reduce(_ || _)))

  def filterAllCols(cols: Seq[String], pred: Column => Column): XDF =
    XDF(df.filter(res(cols).map(c => pred(col(c))).reduce(_ && _)))

  private def allMatched(cols: Seq[String], mk: Column => Column): Column =
    res(cols).map(c => mk(col(c))).reduce(_ && _)

  // equality family (dataframe.py:272-303); eq_int parses int(float(x))
  def eqStr(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType) === v))
  def notEqStr(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType) =!= v))
  def eqInt(c: String, v: Long): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) === v))
  def notEqInt(c: String, v: Long): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) =!= v))
  def eqFloat(c: String, v: Double): XDF = where(allMatched(Seq(c), _.cast(DoubleType) === v))
  def notEqFloat(c: String, v: Double): XDF = where(allMatched(Seq(c), _.cast(DoubleType) =!= v))

  // comparison family (dataframe.py:318-384)
  def ltInt(c: String, v: Long): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) < v))
  def leInt(c: String, v: Long): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) <= v))
  def gtInt(c: String, v: Long): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) > v))
  def geInt(c: String, v: Long): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) >= v))
  def ltFloat(c: String, v: Double): XDF = where(allMatched(Seq(c), _.cast(DoubleType) < v))
  def leFloat(c: String, v: Double): XDF = where(allMatched(Seq(c), _.cast(DoubleType) <= v))
  def gtFloat(c: String, v: Double): XDF = where(allMatched(Seq(c), _.cast(DoubleType) > v))
  def geFloat(c: String, v: Double): XDF = where(allMatched(Seq(c), _.cast(DoubleType) >= v))
  def ltStr(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType) < v))
  def gtStr(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType) > v))
  def leStr(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType) <= v))
  def geStr(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType) >= v))

  // zero / empty (dataframe.py:305-316, 402-408)
  def isNonzeroInt(c: String): XDF = where(allMatched(Seq(c), _.cast(DoubleType).cast(LongType) =!= 0))
  def isNonzeroFloat(c: String): XDF = where(allMatched(Seq(c), _.cast(DoubleType) =!= 0.0))
  def isEmptyStr(c: String): XDF = where(allMatched(Seq(c), x => x.isNull || x.cast(StringType) === ""))
  def isNonemptyStr(c: String): XDF = where(allMatched(Seq(c), x => x.isNotNull && x.cast(StringType) =!= ""))

  // membership (dataframe.py:248-254)
  def valuesIn(c: String, vs: Seq[Any]): XDF = where(allMatched(Seq(c), _.isin(vs: _*)))
  def valuesNotIn(c: String, vs: Seq[Any]): XDF = where(allMatched(Seq(c), !_.isin(vs: _*)))

  // regex — Python re.match anchors at start (dataframe.py:256-270).
  // The pattern goes in a non-capturing group: a bare "^" + "foo|bar"
  // would leave the second alternative unanchored.
  def regexMatch(c: String, pat: String): XDF =
    where(allMatched(Seq(c), _.cast(StringType).rlike(s"^(?:$pat)")))
  def notRegexMatch(c: String, pat: String): XDF =
    where(allMatched(Seq(c), !_.cast(StringType).rlike(s"^(?:$pat)")))

  // affix (dataframe.py:386-400)
  def startswith(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType).startsWith(v)))
  def notStartswith(c: String, v: String): XDF = where(allMatched(Seq(c), !_.cast(StringType).startsWith(v)))
  def endswith(c: String, v: String): XDF = where(allMatched(Seq(c), _.cast(StringType).endsWith(v)))
  def notEndswith(c: String, v: String): XDF = where(allMatched(Seq(c), !_.cast(StringType).endsWith(v)))

  // ===== pseudo-array predicates (dataframe.py:5395-5473) =====
  // The reference's flattened-array convention names positional slots
  // `name[0], name[1], ...` and nested fields `name[0].field`. These
  // predicates are pure driver-side header algebra (find the slot
  // columns) + ONE OR-folded filter — a single codegen'd predicate over
  // the scan, no per-column data pass, any column count.

  /** Backtick-quoted attribute: slot names carry `[`/`]`/`.` which the
    * bare column parser would treat as nested-field access. */
  private def rawCol(name: String): Column = col(quoted(name))

  /** Rows where ANY `c[i]` slot satisfies pred (dataframe.py:5395). */
  def arrayMatches(c: String, pred: Column => Column): XDF = {
    val matching = header.filter(t => t.startsWith(c + "[") && t.endsWith("]"))
    require(matching.nonEmpty, s"array_matches: no matching cols found: $c")
    where(matching.map(n => pred(rawCol(n))).reduce(_ || _))
  }

  /** Rows where any `c[i]` equals str(value) (dataframe.py:5408). */
  def arrayValueExists(c: String, value: Any): XDF =
    arrayMatches(c, _.cast(StringType) === value.toString)

  /** Rows where any `c[i]` contains str(value) (dataframe.py:5418). */
  def arrayValueFind(c: String, value: Any): XDF =
    arrayMatches(c, _.cast(StringType).contains(value.toString))

  /** Rows where ANY `base[i].field` slot satisfies pred; `c` is
    * `base[].field` (dataframe.py:5428 nested_array_matches). */
  def nestedArrayMatches(c: String, pred: Column => Column): XDF = {
    val index = c.lastIndexOf('.')
    require(index >= 0, s"nested_array_matches: format of col is not correct: $c")
    val arrayCol = c.substring(0, index)
    val eltCol = c.substring(index + 1)
    require(arrayCol.endsWith("[]"),
      s"nested_array_matches: format of col is not correct: $c")
    val base = arrayCol.dropRight(2)
    val matching = header.filter(t =>
      t.startsWith(base + "[") && t.endsWith("." + eltCol))
    require(matching.nonEmpty, s"nested_array_matches: no matching cols found: $c")
    where(matching.map(n => pred(rawCol(n))).reduce(_ || _))
  }

  /** Rows where any `base[i].field` equals str(value) (dataframe.py:5455). */
  def nestedArrayValueExists(c: String, value: Any): XDF =
    nestedArrayMatches(c, _.cast(StringType) === value.toString)

  /** Rows where any `base[i].field` contains str(value) (dataframe.py:5464). */
  def nestedArrayValueFind(c: String, value: Any): XDF =
    nestedArrayMatches(c, _.cast(StringType).contains(value.toString))

  // ===== §2.4 Row-level transforms =====

  /** Append a derived column from a Column expression — the preferred,
    * codegen-friendly `transform` (dataframe.py:1319-1472 is a Python
    * lambda dispatcher; expressions keep whole-stage codegen intact). */
  def transform(newCol: String, e: Column): XDF = XDF(df.withColumn(newCol, e))

  /** In-place transform over all columns matching patterns
    * (dataframe.py:1474-1515). */
  def transformInline(cols: Seq[String], f: Column => Column): XDF =
    XDF(res(cols).foldLeft(df)((d, c) => d.withColumn(c, f(col(c)))))

  def transformInlineLog(cols: String*): XDF = transformInline(cols, c => log(c.cast(DoubleType)))
  def transformInlineLog2(cols: String*): XDF = transformInline(cols, c => log2(c.cast(DoubleType)))
  def transformInlineLog10(cols: String*): XDF = transformInline(cols, c => log10(c.cast(DoubleType)))
  def transformInlineLog1p(cols: String*): XDF = transformInline(cols, c => log1p(c.cast(DoubleType)))

  /** x/y with zero-denominator default (dataframe.py:440-448). */
  def ratio(newCol: String, num: String, den: String, default: Double = 0.0): XDF =
    transform(newCol,
      when(col(den).cast(DoubleType) === 0.0, lit(default))
        .otherwise(col(num).cast(DoubleType) / col(den).cast(DoubleType)))

  def ratioConst(newCol: String, num: String, denConst: Double, default: Double = 0.0): XDF =
    transform(newCol,
      if (denConst == 0.0) lit(default) else col(num).cast(DoubleType) / lit(denConst))

  /** Fixed-point formatting (dataframe.py:452-454). format_string, not
    * format_number — the latter inserts thousands separators. */
  def applyPrecision(c: String, p: Int): XDF =
    // null/"" guard: Formatter renders a null arg as the STRING "null",
    // and ''.cast(double) throws under ANSI — both stay "" instead
    transformInline(Seq(c), x =>
      when(x.isNull || x.cast(StringType) === "", lit(""))
        .otherwise(format_string(s"%.${p}f", x.cast(DoubleType))))

  def toInt(cols: String*): XDF = transformInline(cols, _.cast(DoubleType).cast(LongType))
  def toNumeric(cols: String*): XDF = transformInline(cols, _.cast(DoubleType))

  def capMinInline(c: String, v: Double): XDF =
    transformInline(Seq(c), x => greatest(x.cast(DoubleType), lit(v)))
  def capMaxInline(c: String, v: Double): XDF =
    transformInline(Seq(c), x => least(x.cast(DoubleType), lit(v)))

  def replaceStrInline(cols: Seq[String], from: String, to: String): XDF =
    transformInline(cols, x =>
      regexp_replace(x.cast(StringType), java.util.regex.Pattern.quote(from),
        java.util.regex.Matcher.quoteReplacement(to)))

  /** Normalize SQL NULLs to the engine's "" null convention across all
    * string columns — the ingestion bridge from null-bearing sources
    * into the reference's data model (§1.1: empty string IS the null). */
  def fillEmpty(): XDF = XDF(df.na.fill("",
    df.schema.fields.collect { case f if f.dataType == StringType => f.name }))

  def setMissingValues(cols: Seq[String], default: String): XDF =
    transformInline(cols, x =>
      when(x.isNull || x.cast(StringType) === "", default).otherwise(x.cast(StringType)))

  def urlEncodeInline(cols: String*): XDF = transformInline(cols, x => url_encode(x.cast(StringType)))
  def urlDecodeInline(cols: String*): XDF = transformInline(cols, x => url_decode(x.cast(StringType)))

  /** Decode every `:url_encoded`-suffixed column in place and strip the
    * suffix (dataframe.py:2271-2292 resolve_all_url_encoded_cols). */
  def resolveAllUrlEncodedCols(): XDF = {
    val targets = header.filter(_.endsWith(":url_encoded"))
    val decoded = targets.foldLeft(df)((d, c) =>
      d.withColumn(c, url_decode(col(c).cast(StringType)))
        .withColumnRenamed(c, c.stripSuffix(":url_encoded")))
    XDF(decoded)
  }

  /** Selected-col variant (dataframe.py:2271-2280 resolve_url_encoded_cols):
    * decode only the named `:url_encoded` columns and strip their suffix;
    * other encoded columns stay untouched. */
  def resolveUrlEncodedCols(cols: String*): XDF = {
    val targets = res(cols).filter(_.endsWith(":url_encoded"))
    XDF(targets.foldLeft(df)((d, c) =>
      d.withColumn(c, url_decode(col(c).cast(StringType)))
        .withColumnRenamed(c, c.stripSuffix(":url_encoded"))))
  }

  /** First value of a column, or default on empty DF
    * (dataframe.py:5383-5393). Driver-side scalar by contract. */
  def firstValueWithDefault(c: String, default: String): String =
    df.select(col(c).cast(StringType)).head(1).headOption
      .map(r => Option(r.getString(0)).getOrElse(default)).getOrElse(default)
  def base64EncodeInline(cols: String*): XDF =
    transformInline(cols, x => base64(x.cast(StringType).cast(BinaryType)))
  def base64DecodeInline(cols: String*): XDF =
    transformInline(cols, x => unbase64(x.cast(StringType)).cast(StringType))

  /** Deterministic row key hash over concatenated cols
    * (dataframe.py:4056-4089). Default engine hash is xxhash64 (builtin,
    * fastest); `compat = true` switches to the reference's exact
    * `abs(mmh3.hash64(tab-joined-values)[0])` via the native codegen'd
    * Mmh3Hash64 expression — bit-identical to stored reference outputs. */
  def generateKeyHash(newCol: String, cols: Seq[String],
                      compat: Boolean = false): XDF =
    if (compat)
      transform(newCol, abs(graft.plans.Mmh3Hash64.mmh3_64(
        concat_ws("\t", res(cols).map(c => col(c).cast(StringType)): _*))))
    else
      transform(newCol, abs(xxhash64(res(cols).map(c => col(c).cast(StringType)): _*)))

  /** Fill `{colname}` placeholders in a template column from row values
    * (dataframe.py:5321-5381). */
  def resolveTemplateCol(templateCol: String, newCol: String): XDF = {
    val filled = header.foldLeft(col(templateCol).cast(StringType)) { (acc, c) =>
      // escape \ and $ in the data value: regexp_replace treats the
      // replacement as a template ("$1" would throw/mis-substitute)
      val safe = regexp_replace(col(c).cast(StringType), "([\\\\$])", "\\\\$1")
      regexp_replace(acc, lit(java.util.regex.Pattern.quote(s"{$c}")), safe)
    }
    transform(newCol, filled)
  }

  // ===== §2.6 Aggregations =====

  /**
   * Hash aggregation with the reference's naming convention: output col
   * `aggcol:funcname` (dataframe.py:977-1126).
   *
   * collapse = true  -> one row per group: `groupBy(keys).agg(...)` —
   *                     partial map-side aggregation + codegen, spills.
   * collapse = false -> values broadcast back onto every input row: the
   *                     reference's window-function semantics
   *                     (dataframe.py:1105-1108) — `expr.over(partitionBy)`.
   */
  def aggregate(groupCols: Seq[String], aggCols: Seq[String],
                aggFuncs: Seq[String], collapse: Boolean = true): XDF = {
    require(aggCols.length == aggFuncs.length, "aggCols/aggFuncs length mismatch")
    val keys = res(groupCols)
    val exprs = aggCols.zip(aggFuncs).map { case (c, f) =>
      (AggRegistry.outputName(c, f), AggRegistry.expr(f, col(c)))
    }
    if (collapse) {
      val aggExprs = exprs.map { case (n, e) => e.as(n) }
      XDF(df.groupBy(keys.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*))
    } else if (keys.isEmpty || exprs.exists(e => header.contains(e._1))) {
      // empty keys (global annotate) or output-name replacement semantics:
      // the window form is the faithful one
      val w = Window.partitionBy(keys.map(col): _*)
      XDF(exprs.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e.over(w)) })
    } else {
      // collapse=false annotates every row with its group aggregate. A
      // window partitioned by the group keys funnels each group through
      // ONE task — a skewed key is a straggler; the same values come from
      // the map-combinable groupBy (one row per group) joined back
      // null-safely — broadcast-eligible, no task ever owns a whole group.
      val aggExprs = exprs.map { case (n, e) => e.as(n) }
      val agged = df.groupBy(keys.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
        .select(keys.map(k => col(k).as(s"__g_$k")) ++ exprs.map(e => col(e._1)): _*)
      val cond = keys.map(k => col(k) <=> col(s"__g_$k")).reduce(_ && _)
      XDF(df.join(agged, cond, "left").drop(keys.map(k => s"__g_$k"): _*))
    }
  }

  /**
   * Generalized multi-column UDAF — the reference's `group_by_key`
   * (dataframe.py:732-872): `f(rows) -> Map[suffix -> value]` where each
   * row is the agg-col name→value map; output columns are
   * `keyPrefix:suffix`, sorted by suffix (dataframe.py:820-822).
   *
   * Output schema discovery follows the reference's empty-probe trick
   * (dataframe.py:805-809): `f(Nil)` is called once on the driver to learn
   * the output keys. Execution is `groupBy(keys).agg(collect_list(struct))`
   * + one UDF call per GROUP (not per row) — the generic escape hatch.
   * Named AggRegistry functions stay the fast path; this exists for
   * genuinely custom multi-column aggregation logic.
   */
  def groupByKey(groupCols: Seq[String], aggCols: Seq[String],
                 f: Seq[Map[String, String]] => Map[String, String],
                 outPrefix: String = "out", collapse: Boolean = true): XDF = {
    val keys = res(groupCols)
    val acols = res(aggCols)
    val outKeys = f(Nil).keys.toSeq.sorted
    val fUdf = udf { rows: Seq[Row] =>
      val maps = rows.map(r => acols.zipWithIndex.map { case (c, i) =>
        c -> Option(r.get(i)).map(_.toString).getOrElse("") }.toMap)
      val result = f(maps)
      outKeys.map(k => result.getOrElse(k, ""))
    }
    val packed = struct(acols.map(c => col(c).cast(StringType).as(c)): _*)
    if (collapse) {
      val agged = df.groupBy(keys.map(col): _*)
        .agg(fUdf(collect_list(packed)).as("__out__"))
      XDF(outKeys.zipWithIndex.foldLeft(agged) { case (d, (k, i)) =>
        d.withColumn(s"$outPrefix:$k", col("__out__").getItem(i))
      }.drop("__out__"))
    } else {
      val w = Window.partitionBy(keys.map(col): _*)
      val withOut = df.withColumn("__out__", fUdf(collect_list(packed).over(w)))
      XDF(outKeys.zipWithIndex.foldLeft(withOut) { case (d, (k, i)) =>
        d.withColumn(s"$outPrefix:$k", col("__out__").getItem(i))
      }.drop("__out__"))
    }
  }

  /** count + ratio-of-total per group, sorted desc (dataframe.py:414-438).
    * The ratio denominator is a broadcast 1-row aggregate, NOT an empty
    * window — `sum().over(Window.partitionBy())` would funnel every group
    * through a single task, a scale-killer when the grouping key is
    * high-cardinality. `count` is map-side combinable, and the broadcast
    * nested-loop join of a 1-row frame adds no shuffle. */
  def groupCount(cols: String*): XDF = {
    val keys = res(cols)
    val name = keys.mkString("_")
    val counted = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(s"$name:count"))
    val total = broadcast(df.agg(count(lit(1)).as("__total__")))
    XDF(counted.crossJoin(total)
      .withColumn(s"$name:ratio",
        format_string("%.6f", col(s"$name:count") / col("__total__")))
      .drop("__total__")
      .orderBy(col(s"$name:count").desc, struct(keys.map(col): _*)))
  }

  /** Per-group argmax: value cols at the max of sortCol (dataframe.py:875-974
    * — built there on group_by_key and self-declared buggy; here `max_by`). */
  def argMax(groupCols: Seq[String], sortCol: String, argCols: Seq[String]): XDF = {
    val keys = res(groupCols)
    // struct key (sortCol, argCol) makes ties deterministic: highest
    // sort value, then highest arg value
    val aggs = res(argCols).map(a =>
      max_by(col(a), struct(col(sortCol), col(a))).as(s"$a:arg_max")) :+
      max(col(sortCol)).as(s"$sortCol:max")
    XDF(df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*))
  }

  def argMin(groupCols: Seq[String], sortCol: String, argCols: Seq[String]): XDF = {
    val keys = res(groupCols)
    val aggs = res(argCols).map(a =>
      min_by(col(a), struct(col(sortCol), col(a))).as(s"$a:arg_min")) :+
      min(col(sortCol)).as(s"$sortCol:min")
    XDF(df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*))
  }

  def distinct(): XDF = XDF(df.distinct())
  def distinctCols(cols: String*): XDF = select(cols: _*).distinct()

  /** Running sum in a given deterministic order (dataframe.py:4091-4129).
    * Partition by `partitionCols` when supplied (per-entity running sums,
    * bounded per entity by contract). The reference's GLOBAL running sum
    * (empty partitionCols) does NOT use an unpartitioned window — that
    * moves the whole table through one task. It runs as a distributed
    * prefix scan ([[XDF.prefixScan]]): the globally sorted frame is one
    * checkpoint leaf (sorted in place when small), a running window runs
    * within each of its partitions, and each partition adds the sum and
    * the value count of the partitions before it. Null handling matches
    * the window exactly: a row's total is null iff no castable value
    * precedes it. A value with no double reading (a non-numeric string)
    * counts as no value, also under ANSI casts. */
  def cumulativeSum(c: String, newCol: String, orderCols: Seq[String],
                    partitionCols: Seq[String] = Nil): XDF = {
    val v = col(c).try_cast(DoubleType)
    if (partitionCols.nonEmpty) {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      transform(newCol, sum(v).over(w))
    } else {
      val scan = XDF.prefixScan(df.orderBy(orderCols.map(col): _*), v)
      val w = Window.partitionBy(col("__part__")).orderBy(col("__mid__"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // count the CAST column: a non-null string whose double cast is null
      // must not count as "a value preceded", matching the window branch
      XDF(scan.leaf.withColumn(newCol, when(scan.countBefore + count(v).over(w) > 0,
          scan.sumBefore + coalesce(sum(v).over(w), lit(0.0))))
        .drop("__mid__", "__part__"))
    }
  }

  // ===== §2.5 Joins =====

  /**
   * Equi-join with the reference's suffix/default semantics
   * (dataframe.py:3327-3639): clashing non-key columns are renamed with
   * `lsuffix`/`rsuffix` (`col:suffix`); differently-named right keys are
   * re-emitted as copy columns; non-matches fill with `defaultVal` /
   * `defValMap`. Catalyst picks broadcast-hash / shuffled-hash /
   * sort-merge — the reference's `num_par` hand-batching (dataframe.py:
   * 3426-3447) IS the shuffle exchange and needs no API here.
   */
  private def joinImpl(other: XDF, lkeys: Seq[String], rkeys0: Seq[String],
                       joinType: String, lsuffix: String, rsuffix: String,
                       defaultVal: String, defValMap: Map[String, String]): XDF = {
    val rkeys = if (rkeys0 == null || rkeys0.isEmpty) lkeys else rkeys0
    require(lkeys.length == rkeys.length, "lkeys/rkeys length mismatch")
    val lNonKey = header.filterNot(lkeys.contains)
    val rNonKey = other.getHeader.filterNot(rkeys.contains)
    // a right non-key column named like a LEFT KEY would be silently
    // overwritten by the rkey-copy mechanism below — suffix it too
    val clash = lNonKey.toSet.intersect(rNonKey.toSet) ++
      rNonKey.toSet.intersect(lkeys.toSet)
    // a LEFT non-key named like a differently-named RIGHT KEY collides
    // with that key's copy column after the join — suffix the left one
    val divergentRkeys = rkeys.zip(lkeys)
      .collect { case (rk, lk) if rk != lk => rk }.toSet
    val clashL = lNonKey.toSet.intersect(divergentRkeys)
    if ((clash ++ clashL).nonEmpty)
      require(lsuffix.nonEmpty && rsuffix.nonEmpty,
        s"clashing columns ${clash ++ clashL} need lsuffix/rsuffix")
    val l = (clash.intersect(lNonKey.toSet) ++ clashL).foldLeft(df)((d, c) =>
      d.withColumnRenamed(c, ColumnResolver.withSuffix(c, lsuffix)))
    // Rename right keys to the left names and join `using` them (single,
    // coalesced key col in the output); differently-named right keys are
    // kept as copy columns, null on non-match (dataframe.py:3516-3520,
    // 3631-3632 — the __join_keys_matched__ mechanism).
    var r = clash.foldLeft(other.df)((d, c) =>
      d.withColumnRenamed(c, ColumnResolver.withSuffix(c, rsuffix)))
    rkeys.zip(lkeys).foreach { case (rk, lk) =>
      if (rk != lk) r = r.withColumnRenamed(rk, s"__rkeycopy__$rk")
        .withColumn(lk, col(s"__rkeycopy__$rk"))
    }
    val joined0 = joinType match {
      case "inner" | "left" | "right" | "full" | "left_semi" | "left_anti" =>
        l.join(r, lkeys, joinType)
      case t => throw new IllegalArgumentException(s"unknown join type $t")
    }
    val joined = rkeys.zip(lkeys).foldLeft(joined0) { case (d, (rk, lk)) =>
      if (rk != lk && d.columns.contains(s"__rkeycopy__$rk"))
        d.withColumnRenamed(s"__rkeycopy__$rk", rk)
      else d
    }
    // default fills target only the NON-MATCHED side's columns
    // (dataframe.py:3545-3561 builds defaults for the other side's
    // non-key cols) — never the probe side's own genuine nulls
    val rOutCols = rNonKey.map(c =>
      if (clash.contains(c)) ColumnResolver.withSuffix(c, rsuffix) else c) ++
      rkeys.zip(lkeys).collect { case (rk, lk) if rk != lk => rk }
    val lOutCols = lNonKey.map(c =>
      if (clash.contains(c) || clashL.contains(c))
        ColumnResolver.withSuffix(c, lsuffix) else c)
    val fillTargets: Seq[String] = joinType match {
      case "left" => rOutCols
      case "right" => lOutCols
      case "full" => lOutCols ++ rOutCols
      case _ => Nil
    }
    val filled = fillTargets.foldLeft(joined) { (d, c) =>
      defValMap.get(c).orElse(Option(defaultVal)) match {
        case Some(v) => d.withColumn(c, coalesce(col(c).cast(StringType), lit(v)))
        case None => d
      }
    }
    XDF(filled)
  }

  def innerJoin(other: XDF, lkeys: Seq[String], rkeys: Seq[String] = Nil,
                lsuffix: String = "", rsuffix: String = "",
                defValMap: Map[String, String] = Map.empty): XDF =
    joinImpl(other, lkeys, rkeys, "inner", lsuffix, rsuffix, null, defValMap)

  def leftJoin(other: XDF, lkeys: Seq[String], rkeys: Seq[String] = Nil,
               lsuffix: String = "", rsuffix: String = "",
               defaultVal: String = null,
               defValMap: Map[String, String] = Map.empty): XDF =
    joinImpl(other, lkeys, rkeys, "left", lsuffix, rsuffix, defaultVal, defValMap)

  def rightJoin(other: XDF, lkeys: Seq[String], rkeys: Seq[String] = Nil,
                lsuffix: String = "", rsuffix: String = "",
                defaultVal: String = null,
                defValMap: Map[String, String] = Map.empty): XDF =
    joinImpl(other, lkeys, rkeys, "right", lsuffix, rsuffix, defaultVal, defValMap)

  def outerJoin(other: XDF, lkeys: Seq[String], rkeys: Seq[String] = Nil,
                lsuffix: String = "", rsuffix: String = "",
                defaultVal: String = null,
                defValMap: Map[String, String] = Map.empty): XDF =
    joinImpl(other, lkeys, rkeys, "full", lsuffix, rsuffix, defaultVal, defValMap)

  /** Broadcast join — the reference's `map_join` (dataframe.py:3724-3926)
    * hashes only the right side; `broadcast()` is the exact analogue and
    * removes the shuffle entirely when the dim side is small. */
  def innerMapJoin(other: XDF, lkeys: Seq[String], rkeys: Seq[String] = Nil,
                   lsuffix: String = "", rsuffix: String = ""): XDF =
    joinImpl(XDF(broadcast(other.df)), lkeys, rkeys, "inner", lsuffix, rsuffix, null, Map.empty)

  def leftMapJoin(other: XDF, lkeys: Seq[String], rkeys: Seq[String] = Nil,
                  lsuffix: String = "", rsuffix: String = "",
                  defaultVal: String = null): XDF =
    joinImpl(XDF(broadcast(other.df)), lkeys, rkeys, "left", lsuffix, rsuffix, defaultVal, Map.empty)

  /** Inner join on ALL common columns (dataframe.py:3642-3722). */
  def naturalJoin(other: XDF): XDF = {
    val common = header.intersect(other.getHeader)
    require(common.nonEmpty, "natural join with no common columns")
    XDF(df.join(other.df, common, "inner"))
  }

  def semiJoin(other: XDF, keys: Seq[String]): XDF =
    XDF(df.join(other.df.select(keys.map(col): _*).distinct(), keys, "left_semi"))

  def antiJoin(other: XDF, keys: Seq[String]): XDF =
    XDF(df.join(other.df.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** Positional zip of two equal-height DFs (dataframe.py:2554-2586).
    * Needs a global row id on both sides — inherently a full sort at
    * scale; kept for parity. Order defined by `orderCols` per side. */
  def concatAsCols(other: XDF, orderCols: Seq[String], otherOrderCols: Seq[String]): XDF = {
    // "-col" prefix = descending
    def sortExprs(oc: Seq[String]) = oc.map(c =>
      if (c.startsWith("-")) col(c.substring(1)).desc else col(c).asc)
    val (l, ln) = XDF.globalOrdinalWithCount(df, sortExprs(orderCols), "__zip_id__")
    val (r, rn) = XDF.globalOrdinalWithCount(other.df, sortExprs(otherOrderCols), "__zip_id__")
    // fail fast on cardinality mismatch like the reference
    // (dataframe.py:2561-2562) — an inner zip would silently truncate.
    // Counts come from the ordinal machinery's own per-partition counts,
    // not two extra full scans of the inputs.
    require(ln == rn, s"concatAsCols row-count mismatch: $ln vs $rn")
    XDF(l.join(r, Seq("__zip_id__"), "inner").drop("__zip_id__"))
  }

  // ===== §2.7 Set operations =====

  /** Exact-header union (dataframe.py:2322-2363). */
  def union(others: XDF*): XDF = {
    others.foreach { o =>
      require(o.getHeader == header, s"union header mismatch: ${o.getHeader} vs $header")
    }
    XDF(others.foldLeft(df)((a, b) => a.union(b.df)))
  }

  /** Schema-evolving union: union-of-columns with per-column defaults
    * (reference dfutils.py:9-165). */
  def mergeUnion(others: Seq[XDF], defValMap: Map[String, String] = Map.empty): XDF = {
    val all = this +: others
    val merged = all.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
    val filled = defValMap.foldLeft(merged) { case (d, (c, v)) =>
      if (d.columns.contains(c)) d.withColumn(c, coalesce(col(c).cast(StringType), lit(v))) else d
    }
    XDF(filled)
  }

  /** Intersection-of-columns union (dfutils.py:92-177). */
  def mergeIntersect(others: Seq[XDF]): XDF = {
    val common = others.foldLeft(header.toSet)((acc, o) => acc.intersect(o.getHeader.toSet))
    val ordered = header.filter(common)
    val all = (this +: others).map(_.select(ordered: _*).df)
    XDF(all.reduce(_.union(_)))
  }

  /** Multiset difference (dataframe.py:2367-2402 does row-hash anti-join;
    * `except` is exact and collision-free). */
  def difference(other: XDF): XDF = XDF(df.except(other.df))

  def intersectRows(other: XDF): XDF = XDF(df.intersect(other.df))

  // ===== §2.9 Sorts / limits / top-k =====

  /** Multi-col sort. The reference auto-detects numeric-ness by scanning
    * every value (dataframe.py:2031-2072); on typed data the column type
    * already says it, and for string columns `allNumeric` forces a cast. */
  def sort(cols: Seq[String], reverse: Boolean = false, allNumeric: Boolean = false): XDF = {
    val sortCols = res(cols).map { c =>
      val base = if (allNumeric) rawCol(c).cast(DoubleType) else rawCol(c)
      if (reverse) base.desc else base.asc
    }
    XDF(df.orderBy(sortCols: _*))
  }

  def reverseSort(cols: String*): XDF = sort(cols, reverse = true)
  def numericalSort(cols: String*): XDF = sort(cols, allNumeric = true)
  def reverseNumericalSort(cols: String*): XDF = sort(cols, reverse = true, allNumeric = true)

  def take(n: Int): XDF = XDF(df.limit(n))
  def skipRows(n: Int): XDF = XDF(df.offset(n))
  def lastRows(n: Int): XDF = XDF(df.tail(n) match {
    case rows => df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  })

  /** Top-k per group (dataframe.py:5301-5317). Small k (the contract
    * case) runs as a map-side-combinable bounded-heap aggregate — each
    * partial carries at most k rows per group, so a low-cardinality
    * group column cannot concentrate the table on a few window tasks
    * (measured 14x on a 5-group column at sf1). Ordering (including
    * null placement and full-row tie-breaks) is identical to the
    * row_number window plan, which remains the fallback above the heap
    * budget where spilling matters more than skew. */
  def sampleGroupByTopk(groupCols: Seq[String], sortCol: String, k: Int,
                        reverse: Boolean = true): XDF = {
    val keys = res(groupCols)
    if (k <= graft.plans.BoundedTopKAgg.MaxHeapK) {
      val entry = struct(col(sortCol).as("k"), struct(header.map(col): _*).as("r"))
      val topk = df.groupBy(keys.map(col): _*)
        .agg(graft.plans.BoundedTopKAgg.bounded_top_k(entry, k, reverse).as("__tk__"))
        .select(explode(col("__tk__")).as("__e__"))
      XDF(topk.select(col("__e__.r.*")))
    } else {
      val ord = if (reverse) Seq(col(sortCol).desc) else Seq(col(sortCol).asc)
      val orderCols = ord :+ struct(header.map(col): _*).asc
      val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
      XDF(df.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") <= k).drop("__rn__"))
    }
  }

  /** Top-k per group only when the input exceeds `limit` rows
    * (dataframe.py:2938-2946 sample_group_by_topk_if_reached_limit):
    * within-limit inputs pass through untouched (no window, no shuffle). */
  def sampleGroupByTopkIfReachedLimit(limit: Long, groupCols: Seq[String],
                                      sortCol: String, k: Int,
                                      reverse: Boolean = true): XDF =
    if (df.count() > limit) sampleGroupByTopk(groupCols, sortCol, k, reverse)
    else this

  // ===== row/col pruning by predicate (dataframe.py:184-246) =====

  /** Keep only columns where at least one value satisfies `pred` (plus
    * always-kept `keepCols`). One aggregate pass over all candidates. */
  def selectColsWithCondExists(pred: Column => Column, keepCols: Seq[String] = Nil): XDF = {
    val candidates = header.filterNot(keepCols.contains)
    val aggs = candidates.map(c => max(when(pred(col(c)), 1).otherwise(0)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val keep = candidates.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(i) && row.getInt(i) == 1 => c }
    select((keepCols ++ keep): _*)
  }

  /** Keep rows where at least one of `cols` satisfies `pred`
    * (dataframe.py:1211-1253 select_any_cols_with_cond_exists_filter). */
  def selectRowsWithCondExists(cols: Seq[String], pred: Column => Column): XDF =
    filterAnyCols(cols, pred)

  /** JSON xpath filter (dataframe.py:4955-4957): keep rows where the
    * JSON path value satisfies the predicate. */
  def filterJsonByXpath(jsonCol: String, path: String, pred: Column => Column): XDF =
    where(pred(get_json_object(col(jsonCol), path)))

  // ===== multi-out transform (dataframe.py:1319-1472) =====

  /** N-in / M-out scalar transform: `exprs` maps each new column name to
    * a Column over the current row — the expression-level form of the
    * reference's multi-output lambda dispatch. */
  def transformMulti(exprs: Map[String, Column]): XDF =
    XDF(exprs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) })

  /** Generic N-in/M-out via a Scala function over string cells, declared
    * output names; the UDF escape hatch when expressions can't say it. */
  def transformFunc(inCols: Seq[String], outCols: Seq[String],
                    f: Seq[String] => Seq[String]): XDF = {
    val ins = res(inCols)
    val fUdf = udf { vals: Seq[String] => f(vals) }
    val packed = array(ins.map(c => col(c).cast(StringType)): _*)
    val withArr = df.withColumn("__tf__", fUdf(packed))
    XDF(outCols.zipWithIndex.foldLeft(withArr) { case (d, (n, i)) =>
      d.withColumn(n, col("__tf__").getItem(i))
    }.drop("__tf__"))
  }

  // ===== driver-collect bridges (dataframe.py:1639-2017, 4847-4907) =====

  /** DF -> JSON-lines strings in one column (dataframe.py:2227-2244). */
  def toJsonRecords(newCol: String = "json"): XDF =
    XDF(df.select(to_json(struct(header.map(col): _*)).as(newCol)))

  /** DF -> CSV text lines (dataframe.py:2245-2251). Null cells render as
    * "" — concat_ws SKIPS nulls, which would shift every later column. */
  def toCsvText(): XDF =
    XDF(df.select(concat_ws(",",
      header.map(c => coalesce(col(c).cast(StringType), lit(""))): _*).as("csv")))

  /** Collect as tuples of strings (dataframe.py:4847-4876). */
  def toTuples(): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => Option(v).map(_.toString).getOrElse("")))

  /** Collect as one map per row (dataframe.py:1639-1671 to_maps). With
    * `resolveUrlEncodedCols`, `:url_encoded:mkstr` / `:url_encoded:uniq_mkstr`
    * keys lose their `:url_encoded` segment and their comma-joined tokens
    * are url-decoded (the reference's literal branch also matches bare
    * `:uniq_mkstr` keys and double-decodes — treated as a bug, per the
    * suffix-rewrite intent of the surrounding API). */
  def toMaps(resolveUrlEncodedCols: Boolean = false): Seq[Map[String, String]] = {
    def fix(key: String, value: String): (String, String) =
      if (resolveUrlEncodedCols &&
          (key.endsWith(":url_encoded:mkstr") || key.endsWith(":url_encoded:uniq_mkstr"))) {
        val newKey = key.replaceAll(":url_encoded(:(uniq_)?mkstr)$", "$1")
        val decoded = value.split(",", -1).map(t =>
          java.net.URLDecoder.decode(t, "UTF-8")).mkString(",")
        (newKey, decoded)
      } else (key, value)
    df.collect().toSeq.map { r =>
      header.zipWithIndex.map { case (h, i) =>
        fix(h, Option(r.get(i)).map(_.toString).getOrElse(""))
      }.toMap
    }
  }

  /** 2-col DF -> driver map; unique keys enforced (dataframe.py:1966-2017). */
  def colsAsMap(kcol: String, vcol: String): Map[String, String] = {
    val pairs = df.select(col(kcol).cast(StringType), col(vcol).cast(StringType))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val dups = pairs.groupBy(_._1).filter(_._2.length > 1).keys
    require(dups.isEmpty, s"cols_as_map duplicate keys: ${dups.take(5).mkString(",")}")
    pairs.toMap
  }

  /** One column -> driver array (dataframe.py:1912-1964). */
  def colAsArray(c: String): Seq[String] =
    df.select(col(c).cast(StringType)).collect().toSeq.map(r =>
      Option(r.getString(0)).getOrElse(""))

  def colAsArrayUniq(c: String): Seq[String] = colAsArray(c).distinct

  /** List-of-maps -> rows on the driver (dataframe.py:5581-5611 from_maps). */
  // see XDF.fromMaps on the companion

  // ===== misc =====

  def show(n: Int = 20): Unit = df.show(n, truncate = false)

  /** Display sugar (dataframe.py:5007-5029 show_group_count): group-count
    * the cols, optionally re-sort by key, prepend a display seq num, show
    * `n` rows; returns the receiver unchanged. Driver/display path — the
    * tiny grouped result is where the global seq window runs, never the
    * input. */
  def showGroupCount(cols: Seq[String], n: Int = 20, sortByKey: Boolean = false,
                     seqCol: String = "sno"): XDF = {
    val keys = res(cols)
    val name = keys.mkString("_")
    var gc = groupCount(cols: _*)
    if (sortByKey) gc = gc.sort(keys)
    val shown = if (seqCol == null) gc else {
      val ord = if (sortByKey) keys.map(col(_).asc)
                else Seq(col(s"$name:count").desc, struct(keys.map(col): _*).asc)
      XDF(gc.df.withColumn(seqCol, row_number().over(Window.orderBy(ord: _*))))
        .reorder(seqCol)
    }
    shown.show(n)
    this
  }

  def noop(): XDF = this
  def cache(): XDF = XDF(df.cache())

  /** Whole-DF custom function (dataframe.py:4924-4934 custom_func). */
  def customFunc(f: XDF => XDF): XDF = f(this)
}

object XDF {

  /**
   * Distributed 1-based global ordinal in `sortExprs` order — the
   * scale-safe replacement for `row_number().over(Window.orderBy(...))`,
   * which moves the whole table to ONE task. Two regimes:
   *  - the input already runs as one small partition (its global sort
   *    passes `plans.OneJobPlan.runsAsOneTask`: AQE would coalesce the
   *    sort's range exchange into that partition) and its plan is
   *    deterministic: a plain plan, no job. The frame is coalesced to
   *    one partition, sorted in it, and numbered by
   *    `monotonically_increasing_id`, which counts the rows of partition
   *    0 from 0. The coalesce keeps the frame one partition inside any
   *    plan it is composed into, so a consumer that keeps its exchanges
   *    (a join with a 3-partition frame) still reads 1..n. A
   *    nondeterministic input (`rand()`) keeps the leaf below, so two
   *    reads number the same rows alike;
   *  - otherwise a global sort gives a partition-major total order, and
   *    [[scanOrdinalWithCount]] numbers it as one checkpoint leaf (and a
   *    counts job above one partition).
   * In either regime ties land in one partition, so tie ordering is no
   * weaker than the global window's.
   */
  private[graft] def globalOrdinal(d: DataFrame, sortExprs: Seq[Column],
                                   outCol: String): DataFrame =
    if (d.queryExecution.optimizedPlan.deterministic &&
        graft.plans.OneJobPlan.runsAsOneTask(d.orderBy(sortExprs: _*)))
      d.coalesce(1).sortWithinPartitions(sortExprs: _*)
        .withColumn(outCol, monotonically_increasing_id() + lit(1L))
    else globalOrdinalWithCount(d, sortExprs, outCol)._1

  /** [[globalOrdinal]]'s checkpoint regime plus the input's row count,
    * observed during the ordinal's own checkpoint job — callers that need
    * the cardinality anyway (zip validation, window sizing) save a whole
    * count job over the input. The sort's range exchange runs only where
    * the input needs it: a small one-split input is sorted in place
    * (`plans.OneJobPlan`) inside the checkpoint job. */
  private[graft] def globalOrdinalWithCount(d: DataFrame, sortExprs: Seq[Column],
                                            outCol: String): (DataFrame, Long) =
    scanOrdinalWithCount(d.orderBy(sortExprs: _*), outCol, base = 1L)

  /** [[scanOrdinalWithCount]] without the count. */
  private[graft] def scanOrdinal(d: DataFrame, outCol: String,
                                 base: Long = 0L): DataFrame =
    scanOrdinalWithCount(d, outCol, base)._1

  /** Partition-major (scan-order) ordinal from `base`, plus the row count,
    * without any shuffle or RDD hop — the Tungsten-native `zipWithIndex`:
    * the rank is the row's position in its [[prefixScan]] partition plus
    * the rows of the partitions before it. */
  private[graft] def scanOrdinalWithCount(d: DataFrame, outCol: String,
                                          base: Long = 0L): (DataFrame, Long) = {
    val scan = prefixScan(d, lit(0.0))
    // within a partition `monotonically_increasing_id` is the position in
    // the low 33 bits
    val pos = col("__mid__").bitwiseAND(lit((1L << 33) - 1))
    (scan.leaf.withColumn(outCol, scan.countBefore + pos + lit(base)).drop("__mid__", "__part__"),
      scan.rows)
  }

  /** A [[prefixScan]]: the marked leaf, its row count, and per row how
    * many rows of the partitions before its own have a non-null `v`, and
    * the sum of those values. */
  private case class PrefixScan(leaf: DataFrame, rows: Long,
                                countBefore: Column, sumBefore: Column)

  /** The scan shape the ordinal and the global running sum share. `d`,
    * marked with its scan order `__mid__` (`monotonically_increasing_id`)
    * and partition `__part__`, is MATERIALIZED as one checkpoint leaf, its
    * row count observed in the same job: offsets read off a re-planned
    * frame could see other partition memberships (range sampling, AQE
    * coalescing) and corrupt the scan. On one partition the offsets are 0,
    * the leaf's job is the only one, and the leaf declares its
    * one-partition layout, so a window by `__part__` plans no exchange.
    * On more, one job folds each partition's (count, sum), and the
    * offsets are literal arrays indexed by partition — a map-side lookup,
    * no join and no broadcast. */
  private def prefixScan(d: DataFrame, v: Column): PrefixScan = {
    val (marked, Seq(rows)) = org.apache.spark.sql.graft.bridge.observedLeaf(
      d.withColumn("__mid__", monotonically_increasing_id())
        .withColumn("__part__", spark_partition_id()),
      reliable = false, Seq(count(lit(1))), Seq("__part__"))
    val (countBefore, sumBefore) =
      if (rows == 0 || marked.queryExecution.toRdd.getNumPartitions <= 1) (lit(0L), lit(0.0))
      else {
        // one (count, sum) per partition, in partition order: a narrow
        // projection of the leaf keeps its partitions
        val totals = d.sparkSession.sparkContext.runJob(marked.select(v).queryExecution.toRdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
            it.foldLeft((0L, 0.0)) { case (acc @ (n, s), r) =>
              if (r.isNullAt(0)) acc else (n + 1, s + r.getDouble(0)) })
        val before = totals.scanLeft((0L, 0.0)) { case ((n, s), (pn, ps)) => (n + pn, s + ps) }.init
        (lit(before.map(_._1))(col("__part__")), lit(before.map(_._2))(col("__part__")))
      }
    PrefixScan(marked, rows, countBefore, sumBefore)
  }

  /** A parquet table as an XDF, through `sources.ParquetIO.read`: the
    * schema comes from one footer on the driver (no Spark job), or from
    * `spark.read.parquet` where Spark's inference would read more. */
  def apply(spark: SparkSession, path: String): XDF = XDF(graft.sources.ParquetIO.read(spark, path))

  /** List-of-maps -> DF with union-of-keys schema, "" for missing
    * (dataframe.py:5581-5611 from_maps). */
  def fromMaps(spark: SparkSession, maps: Seq[Map[String, String]]): XDF = {
    val cols = maps.flatMap(_.keys).distinct.sorted
    val rows = maps.map(m => Row.fromSeq(cols.map(c => m.getOrElse(c, ""))))
    val schema = StructType(cols.map(c => StructField(c, StringType)))
    XDF(spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema))
  }

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.length)
      s.foreach(l.add)
      l
    }
  }
}
