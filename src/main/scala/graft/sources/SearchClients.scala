package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets

/**
 * Splunk / LogScale search clients over their public REST APIs
 * (reference: extensions/src/omigo_ext/splunk_ext.py:22-637,
 * logscale_ext.py:14-429; protocol shapes from the products' public API
 * docs — Splunk `search/jobs` + paged `results`, LogScale
 * `queryjobs`). The reference drives vendor SDKs from a thread pool;
 * here the driver submits and polls the job, and when a time-sliced
 * fan-out kicks in the per-slot searches run ON THE EXECUTORS — the
 * cluster is the thread pool, and per-slot results never accumulate on
 * the driver.
 *
 * Faithful behaviors (file:line cites against the reference):
 * - query builder `search k="v" and ... | table cols | head max`
 *   (splunk_ext.py:120-133; max_results is mandatory as a safeguard)
 * - poll until done with a hard timeout (splunk_ext.py:226-268)
 * - `limit` + `numParOnLimit`: when a search hits `limit` rows, split
 *   the time range into equal slots (last absorbs the remainder) and
 *   re-run per slot, one level deep only; a slot still at limit warns
 *   and returns partial (splunk_ext.py:182-199,279-305)
 * - paged result fetch (splunk_ext.py:438-449, page size 100)
 * - result-field filtering: keys starting with `_` or containing `::`
 *   are Splunk-internal and dropped unless `includeInternalFields`,
 *   except `_time`; list values join with ","; nested objects render
 *   as JSON (splunk_ext.py:442-471)
 * - retries with backoff, and after the last attempt a 1-row error
 *   frame `{__start_time__, __end_time__, __error_msg__, __count__}`
 *   instead of a throw (splunk_ext.py:346-357,417-419)
 */
object SplunkClient {

  case class Config(baseUrl: String, app: String,
                    authHeaders: Map[String, String],
                    timeoutSec: Int = 600, waitMs: Int = 200,
                    attempts: Int = 3, attemptSleepMs: Int = 200,
                    pageSize: Int = 100) {
    def jobsUrl: String = s"$baseUrl/services/search/jobs"
  }

  object Config {
    /** Basic-auth convenience (reference username/password path,
      * splunk_ext.py:73-78; cookie callers pass authHeaders directly). */
    def basicAuth(baseUrl: String, app: String, username: String,
                  password: String): Config = {
      val tok = java.util.Base64.getEncoder.encodeToString(
        s"$username:$password".getBytes(StandardCharsets.UTF_8))
      Config(baseUrl, app, Map("Authorization" -> s"Basic $tok"))
    }
  }

  /** SPL filter query (splunk_ext.py:120-133). */
  def buildFilterQuery(filters: Seq[(String, String)], cols: Seq[String],
                       maxResults: Long): String = {
    require(filters.nonEmpty, "filters are mandatory")
    require(maxResults > 0, "max_results is mandatory for adding some safe guards")
    val base = "search " + filters.map { case (k, v) => s"""$k="$v"""" }.mkString(" and ")
    val selected = if (cols.nonEmpty) s"$base | table ${cols.mkString(" ")}" else base
    s"$selected | head $maxResults"
  }

  def simpleFilterQuery(spark: SparkSession, cfg: Config,
                        filters: Seq[(String, String)], cols: Seq[String],
                        maxResults: Long, startTime: String,
                        endTime: String = "now"): DataFrame =
    callSearch(spark, cfg, buildFilterQuery(filters, cols, maxResults),
      startTime, endTime)

  /** Run one search; on `limit` overflow with `numParOnLimit` > 1 the
    * time range splits into slots that execute on the executors. */
  def callSearch(spark: SparkSession, cfg: Config, query: String,
                 startTime: String, endTime: String = "now",
                 limit: Option[Long] = None, numParOnLimit: Int = 0,
                 includeInternalFields: Boolean = false): DataFrame = {
    // slicing needs numeric endpoints; Splunk-native relative times
    // ("-24h", "@d") pass through to the search verbatim but cannot be
    // sliced — degrade to the reference's num_par_on_limit=0 behavior
    // (warn + partial) instead of throwing after a wasted search
    val endpoints: Option[(Long, Long)] =
      if (numParOnLimit > 1)
        try Some((SearchProto.parseEpochSec(startTime),
          SearchProto.parseEpochSec(endTime)))
        catch { case scala.util.control.NonFatal(_) => None }
      else None
    def canSplit(c: Long) = splitNeeded(c, limit, numParOnLimit) && endpoints.isDefined
    val (count, rowsOrErr) = submitCountAndFetch(cfg, query, startTime, endTime,
      includeInternalFields, fetchRows = !canSplit(_))
    rowsOrErr match {
      case Left(err) =>
        SearchProto.errorFrame(spark, startTime, endTime, err)
      case Right(_) if canSplit(count) =>
        // limit hit: equal time slots, executed one per task on the
        // cluster (reference splunk_ext.py:279-305 runs them serially
        // on the driver's thread)
        val Some((st0, et0)) = endpoints
        val slots = SearchProto.splitSlots(st0, et0, numParOnLimit)
        val maps = spark.createDataset(slots)(
            org.apache.spark.sql.Encoders.product[(Long, Long)])
          .repartition(slots.length)
          .mapPartitions { it =>
            it.flatMap { case (st, et) =>
              val (n, res) = submitCountAndFetch(cfg, query,
                SearchProto.fmtEpochSec(st), SearchProto.fmtEpochSec(et),
                includeInternalFields, fetchRows = _ => true)
              res match {
                case Left(err) => Seq(SearchProto.errorMap(
                  SearchProto.fmtEpochSec(st), SearchProto.fmtEpochSec(et), err))
                case Right(rows) =>
                  if (limit.exists(n >= _))
                    graft.core.Log.warn(
                      s"SplunkClient: slot [$st,$et) still at limit $n; partial results")
                  rows
              }
            }
          }(org.apache.spark.sql.Encoders.kryo[Map[String, String]])
        SearchProto.mapsToDf(maps)
      case Right(rows) =>
        if (limit.exists(count >= _))
          graft.core.Log.warn(s"SplunkClient: limit reached ($count rows) " +
            "and the time range was not sliced (numParOnLimit <= 1 or " +
            "non-numeric relative times); results are partial")
        graft.core.XDF.fromMaps(spark, rows).toDF
    }
  }

  private def splitNeeded(count: Long, limit: Option[Long], numPar: Int): Boolean =
    limit.exists(count >= _) && numPar > 1

  /** Submit + poll + (conditionally) page the results. Returns the
    * job's resultCount and either the row maps or the terminal error.
    * `fetchRows(count)` lets the limit-split path skip a doomed full
    * fetch. Retries the whole submit cycle `cfg.attempts` times. */
  private def submitCountAndFetch(cfg: Config, query: String, startTime: String,
                                  endTime: String, includeInternal: Boolean,
                                  fetchRows: Long => Boolean)
      : (Long, Either[String, Seq[Map[String, String]]]) = {
    var attempt = 0
    var lastErr = ""
    while (attempt < cfg.attempts) {
      try {
        val sid = submit(cfg, query, startTime, endTime)
        try {
          val count = pollUntilDone(cfg, sid)
          val rows =
            if (!fetchRows(count)) Seq.empty
            else if (count == 0) Seq(SearchProto.baseMap(startTime, endTime, 0))
            else pageResults(cfg, sid, count, includeInternal)
          return (count, Right(rows))
        } finally cancel(cfg, sid)
      } catch {
        case scala.util.control.NonFatal(t) =>
          lastErr = String.valueOf(t.getMessage)
          attempt += 1
          // gateway timeouts back off harder (splunk_ext.py:329-334)
          val mult = if (lastErr.contains("504")) 4 else 1
          if (attempt < cfg.attempts) Thread.sleep(cfg.attemptSleepMs.toLong * mult)
      }
    }
    (0L, Left(lastErr))
  }

  private def submit(cfg: Config, query: String, startTime: String,
                     endTime: String): String = {
    val body = SearchProto.formEncode(Seq(
      "search" -> query, "earliest_time" -> startTime,
      "latest_time" -> endTime, "exec_mode" -> "normal",
      "output_mode" -> "json"))
    val r = WsClient.fetch(s"${cfg.jobsUrl}?output_mode=json", method = "POST",
      headers = cfg.authHeaders +
        ("Content-Type" -> "application/x-www-form-urlencoded"),
      body = body, attempts = 1)
    require(r.status / 100 == 2, s"submit failed: HTTP ${r.status} ${r.body.take(200)}")
    SearchProto.mapper.readTree(r.body).path("sid").asText()
  }

  /** Poll job state to isDone within timeoutSec (splunk_ext.py:226-268);
    * returns resultCount. */
  private def pollUntilDone(cfg: Config, sid: String): Long = {
    val deadline = System.nanoTime() + cfg.timeoutSec * 1000000000L
    while (true) {
      val r = WsClient.fetch(s"${cfg.jobsUrl}/$sid?output_mode=json",
        headers = cfg.authHeaders, attempts = 1)
      require(r.status / 100 == 2, s"status failed: HTTP ${r.status}")
      val content = SearchProto.mapper.readTree(r.body)
        .path("entry").path(0).path("content")
      if (content.path("isDone").asText() == "1" ||
          content.path("isDone").asBoolean(false))
        return content.path("resultCount").asLong()
      if (System.nanoTime() > deadline)
        throw new RuntimeException(s"timeout: ${cfg.timeoutSec}s reached, " +
          "failed to finish query")
      Thread.sleep(cfg.waitMs.toLong)
    }
    0L // unreachable
  }

  private def pageResults(cfg: Config, sid: String, total: Long,
                          includeInternal: Boolean): Seq[Map[String, String]] = {
    val out = Seq.newBuilder[Map[String, String]]
    var offset = 0L
    while (offset < total) {
      val r = WsClient.fetch(
        s"${cfg.jobsUrl}/$sid/results?output_mode=json&count=${cfg.pageSize}&offset=$offset",
        headers = cfg.authHeaders, attempts = 1)
      require(r.status / 100 == 2, s"results failed: HTTP ${r.status}")
      val results = SearchProto.mapper.readTree(r.body).path("results")
      require(results.isArray && results.size > 0,
        s"empty results page at offset $offset of $total")
      results.forEach(n => out += SearchProto.filterSplunkFields(n, includeInternal))
      offset += results.size
    }
    out.result()
  }

  private def cancel(cfg: Config, sid: String): Unit =
    try WsClient.fetch(s"${cfg.jobsUrl}/$sid", method = "DELETE",
      headers = cfg.authHeaders, attempts = 1)
    catch { case scala.util.control.NonFatal(_) => () }
}

/**
 * LogScale (Humio) search client: POST a query job against a
 * repository, poll until done, collect events (reference
 * logscale_ext.py:14-327; endpoint shape from the public
 * `api/v1/repositories/{repo}/queryjobs` API). Same limit/time-slot
 * fan-out contract as SplunkClient, with millisecond slots
 * (logscale_ext.py:128-141).
 */
object LogScaleClient {

  case class Config(baseUrl: String, repository: String, userToken: String,
                    timeoutSec: Int = 600, waitMs: Int = 200,
                    attempts: Int = 3, attemptSleepMs: Int = 200) {
    def jobsUrl: String = s"$baseUrl/api/v1/repositories/$repository/queryjobs"
    def headers: Map[String, String] = Map(
      "Authorization" -> s"Bearer $userToken",
      "Content-Type" -> "application/json")
  }

  def callSearch(spark: SparkSession, cfg: Config, query: String,
                 startMillis: Long, endMillis: Long,
                 acceptedCols: Seq[String] = Nil, excludedCols: Seq[String] = Nil,
                 limit: Option[Long] = None, numParOnLimit: Int = 0): DataFrame = {
    runOnce(cfg, query, startMillis, endMillis, acceptedCols, excludedCols) match {
      case Left(err) =>
        SearchProto.errorFrame(spark, startMillis.toString, endMillis.toString, err)
      case Right(rows) if limit.exists(rows.size >= _) && numParOnLimit > 1 =>
        val slots = SearchProto.splitSlots(startMillis, endMillis, numParOnLimit)
        val maps = spark.createDataset(slots)(
            org.apache.spark.sql.Encoders.product[(Long, Long)])
          .repartition(slots.length)
          .mapPartitions { it =>
            it.flatMap { case (st, et) =>
              runOnce(cfg, query, st, et, acceptedCols, excludedCols) match {
                case Left(err) =>
                  Seq(SearchProto.errorMap(st.toString, et.toString, err))
                case Right(rs) =>
                  if (limit.exists(rs.size >= _))
                    graft.core.Log.warn(
                      s"LogScaleClient: slot [$st,$et) still at limit; partial results")
                  rs
              }
            }
          }(org.apache.spark.sql.Encoders.kryo[Map[String, String]])
        SearchProto.mapsToDf(maps)
      case Right(rows) => graft.core.XDF.fromMaps(spark, rows).toDF
    }
  }

  /** Per-row event fan-out (reference logscale_ext.py:350-429
    * LogScaleDF.get_events): every input row runs `queryFilter` over its
    * own `[startTsCol, endTsCol]` window on an executor, and the
    * matching events join the row with `prefix:`-ed columns. Built on
    * `explodeMapsFetched`, so the output header is the union of event
    * fields AND each row's search executes exactly once (the fetched
    * maps materialize before key discovery — no doubled API load, no
    * silently dropped late keys); SearchClientsSpec pins the submit
    * count. */
  def getEventsPar(df: DataFrame, cfg: Config, queryFilter: String,
                   startTsCol: String, endTsCol: String,
                   prefix: String): DataFrame =
    graft.core.Reshape.explodeMapsFetched(df, df.columns.toSeq, { row =>
      val st = row(startTsCol).toLong
      val et = row(endTsCol).toLong
      runOnce(cfg, queryFilter, st, et, Nil, Nil) match {
        case Left(err)   => Seq(Map("__error_msg__" -> err))
        case Right(Nil)  => Seq(Map("__count__" -> "0"))
        case Right(rows) => rows
      }
    }, prefix, collapse = false)

  private def runOnce(cfg: Config, query: String, startMillis: Long,
                      endMillis: Long, accepted: Seq[String],
                      excluded: Seq[String])
      : Either[String, Seq[Map[String, String]]] = {
    var attempt = 0
    var lastErr = ""
    while (attempt < cfg.attempts) {
      try {
        val id = submit(cfg, query, startMillis, endMillis)
        try return Right(pollEvents(cfg, id, accepted, excluded))
        finally cancel(cfg, id)
      } catch {
        case scala.util.control.NonFatal(t) =>
          lastErr = String.valueOf(t.getMessage)
          attempt += 1
          if (attempt < cfg.attempts) Thread.sleep(cfg.attemptSleepMs.toLong)
      }
    }
    Left(lastErr)
  }

  private def submit(cfg: Config, query: String, startMillis: Long,
                     endMillis: Long): String = {
    val payload = SearchProto.mapper.createObjectNode()
    payload.put("queryString", query)
    payload.put("start", startMillis)
    payload.put("end", endMillis)
    payload.put("isLive", false)
    val r = WsClient.fetch(cfg.jobsUrl, method = "POST",
      headers = cfg.headers, body = payload.toString, attempts = 1)
    require(r.status / 100 == 2, s"submit failed: HTTP ${r.status} ${r.body.take(200)}")
    SearchProto.mapper.readTree(r.body).path("id").asText()
  }

  private def pollEvents(cfg: Config, id: String, accepted: Seq[String],
                         excluded: Seq[String]): Seq[Map[String, String]] = {
    val deadline = System.nanoTime() + cfg.timeoutSec * 1000000000L
    while (true) {
      val r = WsClient.fetch(s"${cfg.jobsUrl}/$id", headers = cfg.headers,
        attempts = 1)
      require(r.status / 100 == 2, s"status failed: HTTP ${r.status}")
      val node = SearchProto.mapper.readTree(r.body)
      if (node.path("done").asBoolean(false)) {
        val out = Seq.newBuilder[Map[String, String]]
        node.path("events").forEach { ev =>
          val all = SearchProto.nodeToMap(ev)
          val kept = all
            .filter { case (k, _) => accepted.isEmpty || accepted.contains(k) }
            .filter { case (k, _) => !excluded.contains(k) }
          out += kept
        }
        return out.result()
      }
      if (System.nanoTime() > deadline)
        throw new RuntimeException(s"timeout: ${cfg.timeoutSec}s reached, " +
          "failed to finish query")
      Thread.sleep(cfg.waitMs.toLong)
    }
    Seq.empty // unreachable
  }

  private def cancel(cfg: Config, id: String): Unit =
    try WsClient.fetch(s"${cfg.jobsUrl}/$id", method = "DELETE",
      headers = cfg.headers, attempts = 1)
    catch { case scala.util.control.NonFatal(_) => () }
}

/** Shared protocol helpers for the search clients. */
private[sources] object SearchProto {
  val mapper = new ObjectMapper()

  def formEncode(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) =>
      s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8)}" }.mkString("&")

  /** Equal time slots; the last absorbs integer-division remainder
    * (splunk_ext.py:182-199, logscale_ext.py:128-141). */
  def splitSlots(startTs: Long, endTs: Long, numSplits: Int): Seq[(Long, Long)] = {
    require(numSplits > 1, s"numSplits must be > 1: $numSplits")
    require(endTs > startTs, s"empty time range: [$startTs, $endTs)")
    val width = (endTs - startTs) / numSplits
    require(width > 0, s"range too narrow for $numSplits slots")
    (0 until numSplits).map { i =>
      (startTs + i * width,
        if (i == numSplits - 1) endTs else startTs + (i + 1) * width)
    }
  }

  /** Splunk result-field policy (splunk_ext.py:442-471). */
  def filterSplunkFields(n: JsonNode, includeInternal: Boolean): Map[String, String] = {
    val keep = Map.newBuilder[String, String]
    n.properties().forEach { e =>
      val k = e.getKey
      val internal = (k.startsWith("_") || k.contains("::")) && k != "_time"
      if (!internal || includeInternal) keep += k -> renderValue(e.getValue)
    }
    keep.result()
  }

  def nodeToMap(n: JsonNode): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    n.properties().forEach(e => b += e.getKey -> renderValue(e.getValue))
    b.result()
  }

  /** Lists join with ","; nested objects render as JSON
    * (splunk_ext.py:462-468). */
  private def renderValue(v: JsonNode): String =
    if (v.isArray) {
      val parts = Seq.newBuilder[String]
      v.forEach(x => parts += (if (x.isValueNode) x.asText() else x.toString))
      parts.result().mkString(",")
    } else if (v.isObject) v.toString
    else v.asText()

  def baseMap(start: String, end: String, count: Long): Map[String, String] =
    Map("__start_time__" -> start, "__end_time__" -> end,
      "__error_msg__" -> "", "__count__" -> count.toString)

  def errorMap(start: String, end: String, err: String): Map[String, String] =
    baseMap(start, end, 0) + ("__error_msg__" -> err)

  def errorFrame(spark: SparkSession, start: String, end: String,
                 err: String): DataFrame =
    graft.core.XDF.fromMaps(spark, Seq(errorMap(start, end, err))).toDF

  /** Distributed maps -> DataFrame: pass 1 discovers the union header,
    * pass 2 projects (the reference's from_maps, kept off the driver). */
  def mapsToDf(maps: org.apache.spark.sql.Dataset[Map[String, String]]): DataFrame = {
    val spark = maps.sparkSession
    import spark.implicits._
    val cached = maps.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cols = cached.flatMap(_.keys).distinct().collect().sorted.toSeq
      val schema = StructType(cols.map(c => StructField(c, StringType)))
      val rows = cached.rdd.map(m => Row.fromSeq(cols.map(c => m.getOrElse(c, ""))))
      // materialize before unpersist: createDataFrame is lazy
      org.apache.spark.sql.graft.bridge.checkpointLeaf(
        spark.createDataFrame(rows, schema), reliable = false)
    } finally cached.unpersist(false)
  }

  /** Epoch-seconds for Splunk earliest/latest: "now", numeric epochs,
    * and ISO datetimes (the reference's resolve_time_str cascade,
    * splunk_common resolve_time_str). */
  def parseEpochSec(s: String): Long =
    if (s == "now") System.currentTimeMillis() / 1000
    else if (s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).getEpochSecond
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).getEpochSecond
    }

  def fmtEpochSec(ts: Long): String = ts.toString
}
