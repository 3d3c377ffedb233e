package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** File / API scan operators — SURVEY.md §2.1.
  *
  * CSV/JSON/Parquet scans mirror the reference's reader options
  * (`backend/app/services/ingestion/bronze_ingestion.py:139-151`); the
  * glob scan mirrors `schema_detection.py:474-496` (case-insensitive
  * extensions, one-level recursion, dedupe + sort).
  *
  * Scale note: all file reads are plain `spark.read` scans — Catalyst
  * handles partition discovery, predicate pushdown and column pruning;
  * the parquet scan only reads its schema off one footer on the driver
  * first. Nothing here forces a driver-side materialization except the
  * REST fetch, which is inherently a driver-side HTTP loop at reference
  * scale.
  */
object Sources {

  /** scan_csv — header/delimiter/encoding options, schema inferred or
    * supplied (supplied schema = the user-confirmed registry schema). */
  def scanCsv(
      spark: SparkSession,
      path: String,
      header: Boolean = true,
      sep: String = ",",
      encoding: String = "utf-8",
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("sep", sep)
      .option("encoding", encoding)
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", "true").csv(path)
    }
  }

  /** scan_json — JSON-lines files; explicit schema avoids the re-inference
    * type drift the reference suffers between layers (SURVEY.md §1.3). */
  def scanJson(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** scan_parquet — a parquet file or directory (partitioned or flat)
    * read with its schema taken from the first footer on the driver
    * ([[graft.util.ParquetSchema.read]]), so the scan starts no
    * schema-inference job; partition columns are discovered as in a
    * plain read. A missing or empty directory fails exactly as
    * `spark.read.parquet` does. */
  def scanParquet(spark: SparkSession, path: String): DataFrame =
    graft.util.ParquetSchema.read(spark, Seq(path))

  private val DataExts = Set("csv", "json", "jsonl", "parquet", "pq")

  /** source_file_scan_glob — list data files under a directory
    * (case-insensitive extension match, one-level recursion), dedupe,
    * sort. Returns paths; callers feed them to the scan_* readers. */
  def globScan(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listDir(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] = {
      if (!fs.exists(p)) return Nil
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory && depth < 1) listDir(st.getPath, depth + 1)
        else if (st.isFile) {
          val name = st.getPath.getName
          val ext = name.split('.').lastOption.map(_.toLowerCase).getOrElse("")
          if (DataExts.contains(ext) && !name.startsWith("_")
            && !name.startsWith(".")) Seq(st.getPath.toString)
          else Nil
        } else Nil
      }
    }
    listDir(new org.apache.hadoop.fs.Path(dir), 0).distinct.sorted
  }

  /** scan_db — JDBC source. The reference declares this source type but
    * never implemented it (`models/models.py:63-66`, rejected at
    * `routers/schemas.py:54-55`); Spark makes it trivial. Partitioned
    * reads (`partitionColumn` + bounds) parallelize the extract; no
    * database exists in this environment, so this is exercised only for
    * wiring. */
  def scanJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      user: String = "",
      password: String = "",
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
    partitionColumn match {
      case Some((c, lo, hi, n)) =>
        base.option("partitionColumn", c)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", n).load()
      case None => base.load()
    }
  }

  // --------------------------------------------------------------------
  // scan_rest_api — paginated HTTP fetch (reference
  // `dag_generator.py:203-287`, data-key resolver
  // `schema_detection.py:611-652`). The HTTP call is pluggable so the
  // zero-egress environment (and tests) can inject a deterministic
  // fetcher; production would pass a java.net.http-based function.
  // --------------------------------------------------------------------

  /** Declared auth mode (reference `dag_generator.py:215-222`): auth
    * is CONFIG the engine translates into transport headers, not code
    * the user writes — a ported pipeline declares `Bearer(token)` and
    * the fetch layer receives the finished `Authorization` header. */
  sealed trait ApiAuth
  object ApiAuth {
    case object NoAuth extends ApiAuth
    final case class Basic(user: String, password: String) extends ApiAuth
    final case class Bearer(token: String) extends ApiAuth
  }

  final case class ApiConfig(
      url: String,
      dataKey: Option[String] = None,
      nextKey: Option[String] = None,
      maxPages: Int = 10,
      pageParam: String = "page",
      method: String = "GET",
      headers: Map[String, String] = Map.empty,
      body: Option[String] = None,
      auth: ApiAuth = ApiAuth.NoAuth)

  /** One prepared HTTP request the transport executes verbatim: url,
    * method, finished headers (auth already applied), optional JSON
    * body (page param already injected for POST pagination). */
  final case class ApiRequest(
      url: String,
      method: String,
      headers: Map[String, String],
      body: Option[String])

  /** The engine-derived headers: declared headers plus the
    * Authorization line the auth mode implies. */
  private[graft] def authHeaders(cfg: ApiConfig): Map[String, String] =
    cfg.auth match {
      case ApiAuth.NoAuth => cfg.headers
      case ApiAuth.Basic(u, p) =>
        cfg.headers + ("Authorization" -> ("Basic " +
          java.util.Base64.getEncoder.encodeToString(
            s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      case ApiAuth.Bearer(t) =>
        cfg.headers + ("Authorization" -> s"Bearer $t")
    }

  private val mapper = new ObjectMapper()

  /** Resolve a dot/bracket path like `query.recentchanges` or
    * `data[0].items` into a JSON node; if no key given, auto-try the
    * conventional wrappers (results/data/items/records/rows), else treat
    * the root as the record array. */
  private[graft] def resolveDataNode(
      root: JsonNode, dataKey: Option[String]): JsonNode = {
    def walk(node: JsonNode, path: String): Option[JsonNode] = {
      val parts = path.split('.').toSeq.flatMap { seg =>
        // split bracket indices: items[0] -> items, 0
        val m = "([^\\[\\]]+)|\\[(\\d+)\\]".r.findAllMatchIn(seg).toSeq
        m.map(g => Option(g.group(1)).getOrElse(g.group(2)))
      }
      parts.foldLeft(Option(node)) {
        case (Some(n), p) if p.forall(_.isDigit) && n.isArray =>
          Option(n.get(p.toInt))
        case (Some(n), p) if n.has(p) => Option(n.get(p))
        case _ => None
      }
    }
    dataKey match {
      case Some(k) => walk(root, k).getOrElse(root)
      case None if root.isArray => root
      case None =>
        Seq("results", "data", "items", "records", "rows")
          .flatMap(k => Option(root.get(k)))
          .find(_.isArray)
          .getOrElse(root)
    }
  }

  /** Fetch all pages with a request-level transport (`ApiRequest` →
    * response body): the engine PREPARES each request — auth headers
    * derived from the declared mode, method honored, and for
    * page-number pagination the page injected as a query param (GET)
    * or a body field (POST) — and the transport only executes it.
    *
    * Two pagination modes, as declared:
    *  - `nextKey` set → cursor pagination: follow the response's next
    *    URL until null (the reference's `pagination.next_key`);
    *  - `nextKey` empty → page-number pagination on `pageParam`,
    *    stopping at the first EMPTY page (or `maxPages`).
    *
    * Returns the extracted record objects as JSON strings. */
  def fetchApiRecordsWith(
      fetch: ApiRequest => String, cfg: ApiConfig): Seq[String] = {
    val headers = authHeaders(cfg)
    val post = cfg.method.equalsIgnoreCase("POST")
    def request(url: String, page: Int): ApiRequest = {
      if (cfg.nextKey.isDefined)
        ApiRequest(url, cfg.method.toUpperCase, headers, cfg.body)
      else if (post) {
        // Page rides in the JSON body: declared body fields survive,
        // the engine owns the page field.
        val root = cfg.body.map(mapper.readTree)
          .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
          .getOrElse(mapper.createObjectNode())
        root.put(cfg.pageParam, page)
        ApiRequest(url, "POST", headers, Some(root.toString))
      } else {
        val sep = if (url.contains("?")) "&" else "?"
        ApiRequest(s"$url$sep${cfg.pageParam}=$page", "GET", headers,
          cfg.body)
      }
    }
    val out = Seq.newBuilder[String]
    var url: Option[String] = Some(cfg.url)
    var page = 0
    var emptyPage = false
    while (url.isDefined && page < cfg.maxPages && !emptyPage) {
      val root = mapper.readTree(fetch(request(url.get, page)))
      val data = resolveDataNode(root, cfg.dataKey)
      val n =
        if (data.isArray) {
          var c = 0
          data.elements().asScala.foreach { e => out += e.toString; c += 1 }
          c
        } else { out += data.toString; 1 }
      cfg.nextKey match {
        case Some(k) =>
          url = Option(root.get(k)).filter(!_.isNull).map(_.asText)
        case None =>
          emptyPage = n == 0
      }
      page += 1
    }
    out.result()
  }

  /** URL-only transport convenience (the pre-round-12 surface): the
    * prepared request collapses to its url. Cursor pagination keeps
    * its exact old behavior — the first request IS `cfg.url`
    * untouched, so url-embedded page params keep working. */
  def fetchApiRecords(
      fetch: String => String, cfg: ApiConfig): Seq[String] =
    fetchApiRecordsWith(req => fetch(req.url), cfg)

  /** scan_rest_api — paginated fetch → DataFrame. Driver-side loop then a
    * distributed JSON parse over the collected strings (reference scale:
    * thousands of records; a 100 TB pipeline would land raw pages to
    * object storage and scan those files instead). */
  def scanRestApi(
      spark: SparkSession,
      fetch: String => String,
      cfg: ApiConfig,
      schema: Option[StructType] = None): DataFrame =
    scanRestApiWith(spark, req => fetch(req.url), cfg, schema)

  /** As [[scanRestApi]], with the request-level transport — the leg
    * that exercises declared auth/method/body config. (Distinct name:
    * the two transports erase to the same `Function1`.) */
  def scanRestApiWith(
      spark: SparkSession,
      fetch: ApiRequest => String,
      cfg: ApiConfig,
      schema: Option[StructType] = None): DataFrame = {
    import spark.implicits._
    val ds: Dataset[String] =
      spark.createDataset(fetchApiRecordsWith(fetch, cfg))
    schema match {
      case Some(s) => spark.read.schema(s).json(ds)
      case None    => spark.read.json(ds)
    }
  }
}
