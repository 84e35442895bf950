package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The engine facade — API-parity with the reference's `RisingWave` /
  * `RisingWaveConnection` (`risingwave/core.py:155-648`) over one embedded
  * SparkSession (≈ the embedded-server autostart, C2).
  *
  * Surfaces: `execute`/`fetch`/`fetchOne` (C7, dialect-shimmed SQL
  * passthrough), buffered `insertRow` + DataFrame `insert` + FLUSH barrier
  * (K1–K5), `createTable` with PK/version-column upsert metadata (D2/D3/K6),
  * `mv` (D4/D5/C10), `onChange` subscriptions (C9, D6–D8), catalog
  * introspection (S2/S3/C8) and `version()` (S4/C12).
  */
final class GraftEngine(val spark: SparkSession,
                        val options: ConnOptions = ConnOptions()) extends AutoCloseable {

  private val schemas = mutable.LinkedHashSet[String]("public", "information_schema")
  private val liveTables = mutable.LinkedHashMap[(String, String), LiveTable]()
  private val mvs = mutable.LinkedHashMap[(String, String), MaterializedView]()
  private val subscriptionSources = mutable.LinkedHashMap[String, (String, String)]()

  // information_schema compatibility views (S2/S3), rebuilt by the first
  // read after a table or MV is created, dropped or restored (two racing
  // reads may both rebuild; either result is current). The view names are
  // engine-unique: engines sharing a session must not read each other's
  // catalog.
  private val infoSchemaId = GraftEngine.engineIds.incrementAndGet()
  private val infoSchemaColumns = s"graft_information_schema_columns_$infoSchemaId"
  private val infoSchemaTables = s"graft_information_schema_tables_$infoSchemaId"
  private val catalogVersion = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var infoSchemaVersion = -1L

  /** Driver threads FLUSH refreshes MVs on: one per driver core, daemon,
    * started on demand and retired when idle; shut down by [[close]]. */
  private val refreshPool = {
    val n = Runtime.getRuntime.availableProcessors()
    val ids = new java.util.concurrent.atomic.AtomicInteger()
    val pool = new java.util.concurrent.ThreadPoolExecutor(n, n,
      30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-refresh-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Persistent changelog location for one MV (None = ephemeral). */
  private[engine] def changelogDirFor(viewName: String): Option[String] =
    options.dataDir.map(d => s"$d/changelog/$viewName")

  /** Durable MV snapshot home ([[MaterializedView.persistSnapshot]]). */
  private[engine] def mvSnapshotDirFor(viewName: String): Option[String] =
    options.dataDir.map(d => s"$d/mvs/$viewName")

  /** Persistent row-segment location for one live table (None = ephemeral). */
  private[engine] def tableDirFor(viewName: String): Option[String] =
    options.dataDir.map(d => s"$d/tables/$viewName")

  /** Persistent TABLE-changelog location (the feed behind cascade MVs over
    * PK/upsert tables; None = ephemeral). Namespaced apart from MV
    * changelogs — a same-named MV must not adopt a table's log. */
  private[engine] def tableChangelogDirFor(viewName: String): Option[String] =
    options.dataDir.map(d => s"$d/tablelog/$viewName")

  registerVersionFunction()
  restoreTables()
  handshake()

  // ---- SQL surface (C7) ---------------------------------------------------

  private[engine] def rewrite(sql: String): String = {
    val q = (liveTables.keys ++ mvs.keys).toSeq
    Dialect(sql, q)
      .replaceAll("(?i)\\binformation_schema\\.columns\\b", infoSchemaColumns)
      .replaceAll("(?i)\\binformation_schema\\.tables\\b", infoSchemaTables)
      .replaceAll("(?is)^\\s*SHOW\\s+MATERIALIZED\\s+VIEWS\\s*$",
        s"SELECT table_name AS name FROM $infoSchemaTables " +
          "WHERE table_type = 'MATERIALIZED VIEW' ORDER BY table_name")
      .replaceAll("(?is)^\\s*SHOW\\s+TABLES\\s+IN\\s+information_schema\\s*$",
        s"SELECT table_name AS name FROM $infoSchemaTables ORDER BY table_name")
  }

  private val createSchemaRe = """(?is)\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w]+)\s*""".r
  private val createTableRe =
    """(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*)""".r
  private val createMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.*)""".r
  private val dropMvRe =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val createSubRe =
    """(?is)\s*CREATE\s+SUBSCRIPTION\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+FROM\s+([\w.]+)\s+WITH.*""".r
  private val insertRe =
    """(?is)\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.*)""".r
  private val insertSelectRe =
    """(?is)\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*(SELECT\s.*|WITH\s.*)""".r
  private val updateRe =
    """(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.*)""".r
  private val deleteRe =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)\s*(?:WHERE\s+(.*))?""".r

  private def splitQualified(n: String): (String, String) = n.split('.') match {
    case Array(s, t) => (s, t)
    case Array(t) => ("public", t)
    case other => (other.init.mkString("."), other.last)
  }

  /** Execute a statement: DDL/DML on engine objects is intercepted, `FLUSH`
    * is the consistency barrier (K5), everything else goes to Spark SQL. */
  def execute(sql: String): Unit = sql.trim.stripSuffix(";") match {
    case s if s.equalsIgnoreCase("FLUSH") => flush()
    case createSchemaRe(name) => createSchema(name)
    case createTableRe(qname, rest) =>
      val (sn, tn) = splitQualified(qname)
      if (!liveTables.contains((sn, tn))) {
        // balance parens: `rest` is everything after the first '(' — the
        // column list ends at its matching ')', the tail is ON CONFLICT etc.
        var depth = 1; var i = 0
        while (i < rest.length && depth > 0) {
          rest.charAt(i) match { case '(' => depth += 1; case ')' => depth -= 1; case _ => }
          i += 1
        }
        val colsDdl = rest.substring(0, i - 1)
        val conflict = rest.substring(i).trim
        val (schema, pk, ver) = DdlParser.parse(colsDdl, Option(conflict).filter(_.nonEmpty))
        createTable(tn, schema, sn, pk, ver)
      }
    case createMvRe(qname, stmt) =>
      val (sn, vn) = splitQualified(qname)
      if (!mvs.contains((sn, vn))) mv(stmt, vn, sn)
    case dropMvRe(qname) =>
      val (sn, vn) = splitQualified(qname)
      // RisingWave rejects dropping an MV that others are defined on.
      // Resolve dependencies from the PARSED plan's relation references —
      // a text match can't tell `FROM mv` from `SELECT x, mv_col` (a
      // select-list comma) or a same-named column, in either direction.
      val spellings = Seq(Dialect.mangle(sn, vn), s"$sn.$vn", vn).map(_.toLowerCase).toSet
      def sourceRelations(stmt: String): Set[String] =
        try spark.sessionState.sqlParser.parsePlan(rewrite(stmt)).collect {
          case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            r.multipartIdentifier.mkString(".").toLowerCase
        }.toSet
        catch {
          // unparsable statement (shouldn't happen for a created MV):
          // conservative word-boundary fallback
          case _: Throwable => spellings.filter(sp =>
            java.util.regex.Pattern.compile(s"(?i)\\b${java.util.regex.Pattern.quote(sp)}\\b")
              .matcher(stmt).find())
        }
      val dependents = mvs.filter { case ((ds, dn), m) =>
        (ds, dn) != ((sn, vn)) && sourceRelations(m.stmt).exists(spellings.contains)
      }
      if (dependents.nonEmpty)
        throw new RuntimeException(
          s"cannot drop materialized view $qname: " +
            s"${dependents.keys.map(k => s"${k._1}.${k._2}").mkString(", ")} depend(s) on it")
      mvs.remove((sn, vn)).foreach { m => m.stop(); m.purgeChangelog() }
      catalogVersion.incrementAndGet()
    case createSubRe(subQ, srcQ) =>
      val (_, subName) = splitQualified(subQ)
      subscriptionSources(subName) = splitQualified(srcQ)
    case insertRe(qname, cols, values) =>
      val (sn, tn) = splitQualified(qname)
      liveTables.get((sn, tn)) match {
        case Some(t) =>
          val colNames: Seq[String] =
            if (cols != null && cols.trim.nonEmpty) cols.split(",").map(_.trim).toSeq
            else t.schema.fieldNames.toSeq
          // align VALUES tuple types to the declared column types (K3)
          val valDf = spark.sql(s"SELECT * FROM VALUES $values")
          val typed = valDf.select(valDf.columns.toSeq.zip(colNames).map { case (c, n) =>
            org.apache.spark.sql.functions.col(c).cast(t.schema(n).dataType).as(n)
          }: _*)
          typed.collect().foreach(r => t.insertRow(colNames.zip(r.toSeq).toMap))
          t.flushBuffer()
        case None => spark.sql(rewrite(sql))
      }
    case insertSelectRe(qname, cols, select) if liveTables.contains(splitQualified(qname)) =>
      // INSERT ... SELECT: evaluate the query over current state, align
      // columns (explicit list by name with NULL fill, otherwise by
      // position), append through the live-ingest path
      val t = liveTables(splitQualified(qname))
      val src = logged("executing statement", select)(spark.sql(rewrite(select)))
      val aligned =
        if (cols != null && cols.trim.nonEmpty) {
          val names = cols.split(",").map(_.trim)
          require(names.length == src.columns.length,
            s"INSERT column list arity ${names.length} != SELECT arity ${src.columns.length}")
          val lower = names.map(_.toLowerCase).toSet
          val unknown = lower.diff(t.schema.fieldNames.map(_.toLowerCase).toSet)
          require(unknown.isEmpty, s"INSERT: unknown column(s) ${unknown.mkString(", ")}")
          val renamed = src.toDF(names.toSeq: _*)
          import org.apache.spark.sql.functions.{col, lit}
          renamed.select(t.schema.fields.map { f =>
            names.find(_.equalsIgnoreCase(f.name)) match {
              case Some(n) => col(n).cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }.toSeq: _*)
        } else {
          require(src.columns.length == t.schema.fields.length,
            s"INSERT SELECT arity ${src.columns.length} != table arity ${t.schema.fields.length}")
          import org.apache.spark.sql.functions.col
          val renamed = src.toDF(t.schema.fieldNames.toSeq: _*)
          renamed.select(t.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        }
      t.insertDF(aligned)
    case updateRe(qname, rest) if liveTables.contains(splitQualified(qname)) =>
      val t = liveTables(splitQualified(qname))
      // split "SET assigns [WHERE pred]" at the first top-level WHERE
      val whereIdx = topLevelIndexOf(rest, "WHERE")
      val (setClause, whereClause) =
        if (whereIdx < 0) (rest, None)
        else (rest.substring(0, whereIdx), Some(rest.substring(whereIdx + 5)))
      val assigns = DdlParser.splitTopLevel(setClause).map(_.trim).filter(_.nonEmpty)
        .map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"bad SET assignment: $a")
          a.substring(0, i).trim -> a.substring(i + 1).trim
        }.toMap
      // SQL identifiers are case-insensitive: match SET targets to schema
      // fields ignoring case (a mismatch must not silently no-op)
      val assignsCi = assigns.map { case (k, v) => k.toLowerCase -> v }
      val unknown = assignsCi.keySet.diff(t.schema.fieldNames.map(_.toLowerCase).toSet)
      require(unknown.isEmpty, s"UPDATE: unknown column(s) ${unknown.mkString(", ")}")
      mutateTable(t) { df =>
        import org.apache.spark.sql.functions.{col, expr, when}
        val cond = whereClause.map(w => expr(rewrite(w))).getOrElse(expr("true"))
        df.select(t.schema.fields.map { f =>
          assignsCi.get(f.name.toLowerCase) match {
            case Some(e) => when(cond, expr(rewrite(e)).cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }.toSeq: _*)
      }
    case deleteRe(qname, where) if liveTables.contains(splitQualified(qname)) =>
      val t = liveTables(splitQualified(qname))
      mutateTable(t) { df =>
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
        if (where == null || where.trim.isEmpty) df.limit(0)
        // SQL three-valued logic: DELETE removes rows where the predicate
        // is TRUE; rows where it's NULL are KEPT (not(NULL) is NULL and a
        // bare filter would drop them — silently deleting extra rows)
        else df.filter(coalesce(not(expr(rewrite(where))), lit(true)))
      }
    case other =>
      logged("executing statement", other)(spark.sql(rewrite(other)))
  }

  private def topLevelIndexOf(s: String, kw: String): Int =
    Dialect.topLevelIndexOf(s, kw)

  /** UPDATE/DELETE path: demote dependent streaming MVs to batch re-run
    * (MemoryStream can't retract), then apply the state transform. Demotion
    * cascades: an MV chained on a demoted MV's streaming face loses its
    * feed, so it demotes too (fixpoint over the name-reference graph).
    * Changes become visible to MVs/changelogs at the next FLUSH barrier,
    * like inserts. */
  private def mutateTable(t: LiveTable)(f: DataFrame => DataFrame): Unit = {
    def spellings(m: MaterializedView): Set[String] =
      Set(m.viewName, s"${m.schemaName}.${m.name}", m.name)
    val direct = mvs.values.filter(m => referencedLiveTables(m.stmt).contains(t)).toSeq
    direct.foreach(_.demoteToBatch())
    var frontier = direct.flatMap(spellings).toSet
    while (frontier.nonEmpty) {
      val next = mvs.values.filter(m => m.isStreamingMode &&
        frontier.exists(n => referencesName(m.stmt, n))).toSeq
      next.foreach(_.demoteToBatch())
      frontier = next.flatMap(spellings).toSet
    }
    t.mutate(f)
  }

  private def referencesName(stmt: String, name: String): Boolean =
    java.util.regex.Pattern.compile(s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b")
      .matcher(stmt).find()

  /** Live tables whose (qualified or bare) name appears in `stmt` — a
    * word-boundary text match, used for MV dependency checks (over-matching
    * is safe: it only forces batch re-run mode). */
  private[engine] def referencedLiveTables(stmt: String): Seq[LiveTable] =
    liveTables.values.filter { t =>
      val pats = Seq(t.viewName, s"${t.schemaName}.${t.name}", t.name)
      pats.exists(p =>
        java.util.regex.Pattern.compile(s"(?i)\\b${java.util.regex.Pattern.quote(p)}\\b")
          .matcher(stmt).find())
    }.toSeq

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** §2.10 error discipline: SQL failures are logged then rethrown, exactly
    * like the reference (`risingwave/core.py:179-181`, `:208-212`). */
  private def logged[T](what: String, sql: String)(f: => T): T =
    try f catch {
      case e: Throwable =>
        log.error(s"Error $what: $sql -> ${e.getMessage}")
        throw e
    }

  /** Run a query, return all rows / a DataFrame per the output format. */
  def fetchDF(sql: String): DataFrame = logged("fetching data", sql) {
    refreshInformationSchema(); spark.sql(rewrite(sql))
  }
  def fetch(sql: String): Seq[Row] = logged("fetching data", sql) {
    fetchDF(sql).collect().toSeq
  }
  def fetchOne(sql: String): Option[Row] = fetchDF(sql).take(1).headOption

  // ---- catalog (D1–D3, S2/S3, C8) ----------------------------------------

  def createSchema(name: String): Unit = schemas += name

  /** Idempotent: re-creating an existing table returns it (the reference's
    * `IF NOT EXISTS` habit, and what a durable reopen needs — the restored
    * table must not be shadowed by a fresh empty one). A CONFLICTING
    * definition errors loudly — silently keeping the old schema would
    * route inserts validated against the new one into a table with
    * different columns/PK semantics. */
  def createTable(name: String, schema: StructType, schemaName: String = "public",
                  primaryKey: Seq[String] = Nil,
                  versionColumn: Option[String] = None): LiveTable =
    liveTables.get((schemaName, name)).map { existing =>
      require(existing.schema == schema && existing.primaryKey == primaryKey &&
        existing.versionColumn == versionColumn,
        s"table $schemaName.$name already exists with a different definition")
      existing
    }.getOrElse {
      val t = new LiveTable(spark, schemaName, name, schema, primaryKey, versionColumn,
        tableDirFor(Dialect.mangle(schemaName, name)),
        tableChangelogDirFor(Dialect.mangle(schemaName, name)))
      liveTables((schemaName, name)) = t
      writeTableMeta(t)
      t.refreshView()
      catalogVersion.incrementAndGet()
      t
    }

  /** Durable-mode table metadata (`_graft_meta` beside the row segments):
    * identifiers + PK/version + the schema as DataType JSON — enough to
    * reconstruct the LiveTable on reopen without the user re-issuing DDL.
    * Line-oriented (SQL identifiers cannot contain newlines); the schema
    * JSON occupies the remaining lines. */
  private def writeTableMeta(t: LiveTable): Unit = tableDirFor(t.viewName).foreach { d =>
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    val meta = Seq(t.schemaName, t.name, t.primaryKey.mkString(","),
      t.versionColumn.getOrElse(""), t.schema.json).mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/_graft_meta"),
      meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Reopen path: reconstruct every persisted live table from its meta
    * file; the LiveTable recovers its own row segments. */
  private def restoreTables(): Unit = options.dataDir.foreach { d =>
    val root = new java.io.File(s"$d/tables")
    if (root.isDirectory) root.listFiles().filter(_.isDirectory).sortBy(_.getName).foreach { td =>
      val metaFile = new java.io.File(td, "_graft_meta")
      if (metaFile.isFile) {
        val lines = new String(java.nio.file.Files.readAllBytes(metaFile.toPath),
          java.nio.charset.StandardCharsets.UTF_8).split("\n", 5)
        val schema = DataType.fromJson(lines(4)).asInstanceOf[StructType]
        // restored tables re-register under their original identity; the
        // progress table is re-adopted lazily by ensureProgressTable (the
        // idempotent createTable returns this restored instance)
        createTable(lines(1), schema, lines(0),
          lines(2).split(",").filter(_.nonEmpty).toSeq,
          Option(lines(3)).filter(_.nonEmpty))
      }
    }
  }

  def table(name: String, schemaName: String = "public"): Option[LiveTable] =
    liveTables.get((schemaName, name))

  def checkExist(name: String, schemaName: String = "public"): Boolean =
    liveTables.contains((schemaName, name)) || mvs.contains((schemaName, name)) ||
      spark.catalog.tableExists(name)

  /** information_schema compatibility views (S2/S3). */
  private def refreshInformationSchema(): Unit = {
    val version = catalogVersion.get()
    if (version == infoSchemaVersion) return
    import scala.jdk.CollectionConverters._
    val colRows = (liveTables.values.map(t => (t.schemaName, t.name, t.schema)) ++
      mvs.values.map(m => (m.schemaName, m.name, m.outputSchema))).flatMap {
      case (sn, tn, st) => st.fields.zipWithIndex.map { case (f, i) =>
        Row(sn, tn, f.name, i + 1, f.dataType.simpleString)
      }
    }.toList
    val colSchema = StructType(Seq(
      StructField("table_schema", StringType), StructField("table_name", StringType),
      StructField("column_name", StringType), StructField("ordinal_position", IntegerType),
      StructField("data_type", StringType)))
    spark.createDataFrame(colRows.asJava, colSchema)
      .createOrReplaceTempView(infoSchemaColumns)

    val tblRows = (liveTables.values.map(t => Row(t.schemaName, t.name, "BASE TABLE")) ++
      mvs.values.map(m => Row(m.schemaName, m.name, "MATERIALIZED VIEW"))).toList
    val tblSchema = StructType(Seq(
      StructField("table_schema", StringType), StructField("table_name", StringType),
      StructField("table_type", StringType)))
    spark.createDataFrame(tblRows.asJava, tblSchema)
      .createOrReplaceTempView(infoSchemaTables)
    infoSchemaVersion = version
  }

  // ---- ingest (K2–K5) -----------------------------------------------------

  def insertRow(tableName: String, schemaName: String = "public",
                forceFlush: Boolean = false, values: Map[String, Any]): Unit = {
    val t = liveTables.getOrElse((schemaName, tableName),
      throw new RuntimeException(s"Table $schemaName.$tableName does not exist"))
    t.insertRow(values, forceFlush)
    if (forceFlush) flush()
  }

  def insert(df: DataFrame, tableName: String, schemaName: String = "public",
             forceFlush: Boolean = false): Unit = {
    val t = liveTables.getOrElse((schemaName, tableName),
      throw new RuntimeException(s"Table $schemaName.$tableName does not exist"))
    t.insertDF(df)
    if (forceFlush) flush()
  }

  /** K5 — the FLUSH consistency barrier: buffered rows become micro-batches,
    * then every MV maintainer drains (streaming) or re-evaluates (batch).
    *
    * MVs refresh in dependency order, not one after another: an MV starts
    * as soon as every MV it reads ([[MaterializedView.flushUpstreams]]) has
    * refreshed, so MV-on-MV chains see their upstream's epoch first, while
    * MVs that do not read each other refresh concurrently on the engine's
    * driver pool. Each refresh runs with this thread's active session and
    * Spark local properties (job group, `graft.phase`, caller tags).
    *
    * Returns only after every started refresh has settled. A failed MV's
    * dependents do not refresh this barrier (the next one catches them
    * up); MVs independent of it do, and the first failure in creation
    * order is rethrown. An interrupt of this thread is forwarded to the
    * running refreshes, skips those not yet started, and surfaces as an
    * InterruptedException once the running ones have settled. */
  def flush(): Unit = {
    liveTables.values.foreach(_.flushBuffer())
    // table changelogs emit BEFORE any maintainer runs: a cascade MV's
    // epoch consumes exactly the ops this barrier makes visible
    liveTables.values.foreach(_.emitChangelog())
    refreshMvs()
    // PK version-history compaction (threshold + doubling gated) runs
    // last: physically invisible, so maintainers never see it
    liveTables.values.foreach(_.maybeCompact())
  }

  /** The FLUSH refresh scheduler (see [[flush]]). Bookkeeping stays on
    * the calling thread: workers only run refreshes and report back, and
    * every submission captures this thread's session and local
    * properties. Edges come from a word-boundary name match
    * ([[MaterializedView.flushUpstreams]]), which can over-match, so they
    * point only to EARLIER-created MVs — the order the serial barrier
    * used — and the graph stays acyclic. */
  private def refreshMvs(): Unit = {
    val order = mvs.values.toIndexedSeq
    val pos = order.zipWithIndex.toMap
    val ups = order.indices.map(i =>
      order(i).flushUpstreams.flatMap(pos.get).filter(_ < i).distinct)
    val downs = order.indices.map(u => order.indices.filter(ups(_).contains(u)))
    val waiting = ups.map(_.size).toArray
    val failed = new Array[Throwable](order.length)
    val settled = new java.util.concurrent.LinkedBlockingQueue[(Int, Throwable)]()
    val live = mutable.LinkedHashMap[Int, RefreshTask]()
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def launch(i: Int): Unit = {
      val task = new RefreshTask(order(i), err => settled.put((i, err)))
      live(i) = task
      try org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(session, refreshPool)(task.run())
        // an escape from the capture wrapper itself still settles the task
        .whenComplete((_, err) => if (err != null) task.settle(err))
      catch { case t: Throwable => task.settle(t) }
    }
    order.indices.filter(waiting(_) == 0).foreach(launch)
    var interrupted = false
    while (live.nonEmpty) {
      try {
        val (i, err) = settled.take()
        live -= i
        if (err != null) failed(i) = err
        else if (!interrupted) downs(i).foreach { d =>
          waiting(d) -= 1
          if (waiting(d) == 0) launch(d)
        }
      } catch { case _: InterruptedException =>
        interrupted = true
        live.toSeq.foreach { case (i, task) => if (task.cancel()) live -= i }
      }
    }
    if (interrupted) {
      val e = new InterruptedException("FLUSH interrupted")
      failed.filter(_ != null).foreach(e.addSuppressed)
      throw e
    }
    failed.find(_ != null).foreach(t => throw t)
  }

  // ---- MVs + subscriptions (D4–D8, C9/C10) --------------------------------

  /** D4 — create + start a materialized view. `watermarks` (W9) optionally
    * bounds streaming state: tableName → (eventTimeCol, delay), applied to
    * the source's streaming face. Default is NO watermark — RisingWave
    * semantics (results always correctable, state unbounded); at 100 TB
    * scale a watermark (or RocksDB state store) is the state-bounding knob. */
  def mv(stmt: String, name: String, schemaName: String = "public",
         watermarks: Map[String, (String, String)] = Map.empty): MaterializedView = {
    val m = new MaterializedView(this, schemaName, name, stmt, watermarks)
    mvs((schemaName, name)) = m
    catalogVersion.incrementAndGet()
    m.start()
    m
  }

  def mvByName(name: String, schemaName: String = "public"): Option[MaterializedView] =
    mvs.get((schemaName, name))

  /** C9 — end-to-end subscribe: waits for the source (bounded retry here vs
    * the reference's infinite loop), defaults `sub_name = src + "_sub"`,
    * subscribes to an MV or to a live table via an implicit identity MV. */
  def onChange(subscribeFrom: String,
               handler: Seq[Row] => Unit,
               schemaName: String = "public",
               subName: String = "",
               maxBatchSize: Int = 10,
               retentionSeconds: Long = 86400L,
               persistProgress: Boolean = false,
               errorIfNotExist: Boolean = false): Subscription = {
    if (!checkExist(subscribeFrom, schemaName) && errorIfNotExist)
      throw new RuntimeException(s"$schemaName.$subscribeFrom does not exist")
    val m = resolveChangeSource(subscribeFrom, schemaName)
    val sn = if (subName.nonEmpty) subName else s"${subscribeFrom}_sub"
    val sub = subscribe(m, sn, retentionSeconds, persistProgress)
    sub.consume(handler, maxBatchSize)
    sub
  }

  /** Non-blocking variant of C9 (declare only; caller drives FETCH). */
  def subscriptionFor(subscribeFrom: String, schemaName: String = "public",
                      subName: String = "", retentionSeconds: Long = 86400L,
                      persistProgress: Boolean = false): Subscription = {
    val m = resolveChangeSource(subscribeFrom, schemaName)
    val sn = if (subName.nonEmpty) subName else s"${subscribeFrom}_sub"
    subscribe(m, sn, retentionSeconds, persistProgress)
  }

  private def resolveChangeSource(name: String, schemaName: String): MaterializedView =
    mvs.getOrElse((schemaName, name), {
      // live table: subscribe through an implicit identity MV (the "MV" of a
      // base table is the identity query — SURVEY §3.3)
      val ident = (schemaName, s"__changes_$name")
      mvs.getOrElse(ident, {
        require(liveTables.contains((schemaName, name)),
          s"$schemaName.$name does not exist")
        mv(s"SELECT * FROM ${if (schemaName == "public") name else s"$schemaName.$name"}",
          s"__changes_$name", schemaName)
      })
    })

  private[engine] def subscribe(m: MaterializedView, subName: String,
                                retentionSeconds: Long,
                                persistProgress: Boolean): Subscription = {
    if (persistProgress) ensureProgressTable()
    new Subscription(this, m, subName, retentionSeconds, persistProgress)
  }

  // ---- progress table (K6/K7) ---------------------------------------------

  private[engine] var progressTable: Option[LiveTable] = None

  private def ensureProgressTable(): Unit = synchronized {
    if (progressTable.isEmpty)
      progressTable = Some(createTable("risingwave_py_sub_progress",
        StructType(Seq(
          StructField("sub_name", StringType, nullable = false),
          StructField("progress", LongType))),
        primaryKey = Seq("sub_name"), versionColumn = Some("progress")))
  }

  // runs AFTER progressTable's declaration — Scala initializes constructor
  // statements in declaration order, and restore touches the field
  restoreProgress()

  // ---- streaming-view binding (used by Mv.start) --------------------------

  /** Source relation names of a statement from the PARSED plan (lowercase,
    * as written — bare or qualified), or None when it doesn't parse. Used
    * where reference precision matters: a word-boundary regex over-matches
    * same-named columns/strings, which is harmless for demotion decisions
    * (worst case: batch re-run) but NOT for reader-stream binding, where a
    * spurious match would buffer a snapshot copy + every future delta for a
    * reader that never consumes them. `deep` also collects relations read
    * inside subquery expressions and CTE bodies, which `collect` skips
    * (Spark keeps CTE definitions as inner children of `UnresolvedWith`). */
  private def statementRelations(stmt: String, deep: Boolean = false): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    def relations(p: LogicalPlan): Seq[String] =
      if (!deep) p.collect { case r: UnresolvedRelation => r.multipartIdentifier.mkString(".") }
      else p.collectWithSubqueries {
        case r: UnresolvedRelation => Seq(r.multipartIdentifier.mkString("."))
        case w: UnresolvedWith => w.cteRelations.flatMap(c => relations(c._2))
      }.flatten
    try Some(relations(spark.sessionState.sqlParser.parsePlan(rewrite(stmt)))
      .map(_.toLowerCase).toSet)
    catch { case _: Throwable => None }
  }

  /** MVs the statement reads (parsed-plan relation references, subqueries
    * and CTE bodies included; word-boundary fallback for unparsable text),
    * excluding the asking MV itself. Used by the changelog-cascade
    * admission check and the per-mode maintainers. */
  private[engine] def referencedMvs(stmt: String,
                                    excluding: (String, String)): Seq[MaterializedView] =
    statementRelations(stmt, deep = true) match {
      case Some(rs) => mvs.collect { case ((sn, vn), m) if (sn, vn) != excluding &&
        Seq(m.viewName, s"$sn.$vn", vn).exists(s => rs.contains(s.toLowerCase)) => m
      }.toSeq
      case None => mentionedMvs(stmt, excluding)
    }

  /** MVs whose (mangled, qualified or bare) name appears in `stmt` as a
    * whole word, excluding the asking MV itself. Over-matches on purpose:
    * a mention anywhere counts — subqueries and CTE bodies included — and
    * so do same-named columns or strings. That is the side FLUSH ordering
    * needs: a spurious edge only serializes two refreshes, a missing one
    * lets a consumer read its upstream's previous epoch. */
  private[engine] def mentionedMvs(stmt: String,
                                   excluding: (String, String)): Seq[MaterializedView] =
    mvs.collect { case ((sn, vn), m) if (sn, vn) != excluding &&
      Seq(m.viewName, s"$sn.$vn", vn).exists(n => referencesName(stmt, n)) => m
    }.toSeq

  /** Temporarily rebind live-table views — and the streaming faces of
    * append-only streaming MVs (MV-on-MV chains) — to their streaming
    * forms (with optional per-table watermarks), evaluate, restore.
    * Synchronized: view rebinding is session-global.
    *
    * Binding attaches a dedicated backfilled MemoryStream per (source,
    * readerKey) — see [[LiveTable.streamingDFFor]] /
    * [[MaterializedView.streamingFaceFor]] — which the source then feeds
    * every subsequent batch. So ONLY sources the statement actually reads
    * may bind: resolution goes through the parsed plan's relation names
    * (regex fallback for unparsable text), and a failed/demoted maintainer
    * releases its readers via [[releaseStreamReaders]]. */
  private[engine] def withStreamingViews[T](
      watermarks: Map[String, (String, String)] = Map.empty,
      forStmt: String = "", readerKey: String = "",
      fromSeqs: Map[String, Long] = Map.empty)(thunk: => T): T = synchronized {
    val rels = statementRelations(forStmt)
    def referenced(spellings: Seq[String]): Boolean = rels match {
      case Some(rs) => spellings.exists(s => rs.contains(s.toLowerCase))
      case None => spellings.exists(n => referencesName(forStmt, n))
    }
    liveTables.values.foreach { t =>
      if (referenced(Seq(t.viewName, s"${t.schemaName}.${t.name}", t.name))) {
        // fromSeqs is keyed by the mangled viewName (see persistSnapshot's
        // tblSeqs) — unambiguous across schemas
        val after = fromSeqs.getOrElse(t.viewName, -1L)
        val sdf = watermarks.get(t.name) match {
          case Some((tsCol, delay)) => t.streamingDFFor(readerKey, after).withWatermark(tsCol, delay)
          case None => t.streamingDFFor(readerKey, after)
        }
        sdf.createOrReplaceTempView(t.viewName)
      }
    }
    mvs.values.foreach { m =>
      if (referenced(Seq(m.viewName, s"${m.schemaName}.${m.name}", m.name)))
        m.streamingFaceFor(readerKey).foreach(_.createOrReplaceTempView(m.viewName))
    }
    try thunk
    finally {
      liveTables.values.foreach(_.refreshView())
      mvs.values.foreach(_.restoreView())
    }
  }

  /** Release `readerKey`'s per-table streams AND per-MV face streams (MV
    * dropped / demoted / streaming start failed) so neither tables nor
    * upstream MVs keep buffering for it. Dropping an unbound key is a
    * no-op, so the sweep covers every source without reference analysis. */
  private[engine] def releaseStreamReaders(readerKey: String): Unit = {
    liveTables.values.foreach(_.dropReader(readerKey))
    mvs.values.foreach(_.dropFaceReader(readerKey))
  }

  // ---- handshake (C4/C12/S4) ----------------------------------------------

  private def registerVersionFunction(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "version", _ => Literal.create(Version.string, StringType), "built-in")
    // extension sketch functions, exposed to the SQL passthrough surface
    import graft.functions.HashExpressions
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", exprs => HashExpressions.MinHashSig(exprs.head, 128, 42L), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => HashExpressions.SimHash(exprs.head, 42L), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", exprs => HashExpressions.WordShingles(exprs.head, 3), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => HashExpressions.RollingHash(exprs.head, 31L, 1000000007L), "built-in")
  }

  private def handshake(): Unit = {
    val t = createTable("_risingwave_py_version",
      StructType(Seq(StructField("version", IntegerType, nullable = false))),
      primaryKey = Seq("version"))
    t.insertRow(Map("version" -> 1), forceFlush = true)
  }

  /** C5 — connection handle: the reference hands out
    * `RisingWaveConnection`s from a pool (`risingwave/core.py:608-615`) and
    * opens a dedicated one per MV; here every handle shares the (thread-
    * safe) SparkSession, so a handle is a thin facade. */
  def getconn(): Connection = new Connection(this)

  /** Load persisted subscription progress (if the data dir has any) into
    * the progress upsert table, so `declareCursor()` with persisted progress
    * resumes across engine restarts. */
  private def restoreProgress(): Unit = options.dataDir.foreach { d =>
    val f = new java.io.File(s"$d/progress")
    if (f.isDirectory) {
      ensureProgressTable()
      val rows = spark.read.parquet(f.getAbsolutePath)
        .select("sub_name", "progress").collect()
      progressTable.foreach { t =>
        rows.foreach(r => t.insertRow(
          Map("sub_name" -> r.getString(0), "progress" -> r.getLong(1)), forceFlush = true))
      }
    }
  }

  override def close(): Unit = {
    // durable mode: one final FLUSH barrier BEFORE stopping maintainers —
    // rows ingested after the user's last FLUSH would otherwise spill to
    // the table segments with their MV ops never emitted, so a SINCE-0
    // replay after reopen could not reconstruct the restored snapshots.
    // The barrier also puts every MV at a consistent position for the
    // snapshot persist below (reopen restores state in O(state) instead
    // of re-running statements over base data).
    if (options.dataDir.nonEmpty) {
      try flush() catch { case _: Throwable => () }
      mvs.values.foreach(m => try m.persistSnapshot() catch { case _: Throwable => () })
    }
    // halt the maintainers; changelog segments are already durable
    // (written executor-side at append time), so close only spills the
    // live tables' in-memory tails and the progress snapshot. Ephemeral
    // (no-dataDir) changelogs live in temp dirs that nothing will ever
    // read again — purge them, or every run leaks a parquet dir per epoch
    mvs.values.foreach(_.stop())
    if (options.dataDir.isEmpty) mvs.values.foreach(_.purgeChangelog())
    liveTables.values.foreach(_.spillAll())
    options.dataDir.foreach { d =>
      progressTable.foreach { t =>
        t.batchDF.coalesce(1).write.mode("overwrite").parquet(s"$d/progress")
      }
    }
    liveTables.values.foreach(_.cleanup())
    mvs.clear()
    spark.catalog.dropTempView(infoSchemaColumns)
    spark.catalog.dropTempView(infoSchemaTables)
    refreshPool.shutdown()
  }
}

/** One MV's refresh within a FLUSH ([[GraftEngine.flush]]). [[settle]]
  * reports the outcome (null = success) to the scheduler exactly once;
  * [[cancel]] skips the refresh if it has not started and interrupts it
  * while it runs. */
private[engine] final class RefreshTask(m: MaterializedView, report: Throwable => Unit) {
  private var started = false
  private var runner: Thread = null
  private var reported = false

  def run(): Unit = {
    val go = synchronized {
      if (started) false else { started = true; runner = Thread.currentThread(); true }
    }
    if (go) {
      var err: Throwable = null
      try m.refresh() catch { case t: Throwable => err = t }
      finally synchronized {
        runner = null
        // a forwarded interrupt belongs to this refresh alone: clear it
        // before the pool thread moves on
        Thread.interrupted()
      }
      settle(err)
    }
  }

  def settle(err: Throwable): Unit =
    if (synchronized { val first = !reported; reported = true; first }) report(err)

  /** True when the refresh had not started: it never will, and counts as
    * settled without a report. */
  def cancel(): Boolean = synchronized {
    if (!started) { started = true; reported = true; true }
    else { if (runner != null) runner.interrupt(); false }
  }
}

/** C5/C6/C7 — per-use connection facade (`RisingWaveConnection`,
  * `risingwave/core.py:155-362`): same surface as the engine, loanable via
  * `AutoCloseable` (the reference's context-manager `__enter__`/`__exit__`).
  */
final class Connection private[engine](engine: GraftEngine) extends AutoCloseable {
  def execute(sql: String): Unit = engine.execute(sql)
  def fetch(sql: String): Seq[Row] = engine.fetch(sql)
  def fetchDF(sql: String): DataFrame = engine.fetchDF(sql)
  def fetchOne(sql: String): Option[Row] = engine.fetchOne(sql)
  def insertRow(tableName: String, schemaName: String = "public",
                forceFlush: Boolean = false, values: Map[String, Any]): Unit =
    engine.insertRow(tableName, schemaName, forceFlush, values)
  def insert(df: DataFrame, tableName: String, schemaName: String = "public",
             forceFlush: Boolean = false): Unit =
    engine.insert(df, tableName, schemaName, forceFlush)
  def checkExist(name: String, schemaName: String = "public"): Boolean =
    engine.checkExist(name, schemaName)
  def onChange(subscribeFrom: String, handler: Seq[Row] => Unit,
               schemaName: String = "public", subName: String = "",
               maxBatchSize: Int = 10, retentionSeconds: Long = 86400L,
               persistProgress: Boolean = false,
               errorIfNotExist: Boolean = false): Subscription =
    engine.onChange(subscribeFrom, handler, schemaName, subName, maxBatchSize,
      retentionSeconds, persistProgress, errorIfNotExist)
  override def close(): Unit = () // shared session — nothing to release
}

object GraftEngine {
  private val engineIds = new java.util.concurrent.atomic.AtomicLong()

  /** Run `f` with its Spark jobs tagged `view:phase` in the `graft.phase`
    * local property. AQE's thread-local capture carries the tag to every
    * query stage `f` submits, so profilers, the Spark UI and e2ebench's
    * traced run can split job time and shuffle bytes by phase. */
  private[engine] def timed[T](spark: SparkSession, view: String, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("graft.phase")
    sc.setLocalProperty("graft.phase", s"$view:$phase")
    try f finally sc.setLocalProperty("graft.phase", prev)
  }

  /** Embedded bootstrap (C1/C2): options accepted for API parity; the
    * session is the engine. */
  def open(options: ConnOptions = ConnOptions(),
           existing: Option[SparkSession] = None): GraftEngine = {
    val spark = existing.getOrElse {
      SparkSession.builder()
        .master("local[*]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    if (options.stateStore.equalsIgnoreCase("rocksdb"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else
      // the conf is session-global: an earlier rocksdb engine on a shared
      // session must not leak its backend into this engine's maintainers
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    Retry.retry(intervalMs = 500, times = 60) { new GraftEngine(spark, options) }
  }
}

/** Minimal RisingWave-DDL column-list parser (covers the reference's DDL:
  * `demo.py:120-131`, `risingwave/core.py:509`, `:599`). */
private[engine] object DdlParser {
  private val typeMap: Map[String, DataType] = Map(
    "STRING" -> StringType, "VARCHAR" -> StringType, "TEXT" -> StringType,
    "TIMESTAMPTZ" -> TimestampType, "TIMESTAMP" -> TimestampNTZType,
    "FLOAT" -> DoubleType, "DOUBLE" -> DoubleType, "DOUBLE PRECISION" -> DoubleType,
    "REAL" -> FloatType, "INT" -> IntegerType, "INTEGER" -> IntegerType,
    "SMALLINT" -> ShortType, "BIGINT" -> LongType, "BOOLEAN" -> BooleanType,
    "DATE" -> DateType, "BYTEA" -> BinaryType, "JSONB" -> StringType,
    "DECIMAL" -> DecimalType(38, 18), "NUMERIC" -> DecimalType(38, 18))

  /** Paren-depth- and quote-aware top-level comma split: `PRIMARY KEY
    * (a, b)`, `DECIMAL(10,2)`, and string literals containing commas
    * (`SET name = 'a,b'`) all stay whole. Used for DDL column lists and
    * UPDATE's SET-assignment list. */
  private[engine] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var inQ = false
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case ',' if !inQ && depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.toSeq
  }

  /** Returns (schema, primaryKey, versionColumn). */
  def parse(colsDdl: String, conflictClause: Option[String]): (StructType, Seq[String], Option[String]) = {
    val parts = splitTopLevel(colsDdl).map(_.trim).filter(_.nonEmpty)
    val pk = scala.collection.mutable.ArrayBuffer[String]()
    val fields = parts.flatMap {
      case p if p.toUpperCase.startsWith("PRIMARY KEY") =>
        pk ++= p.replaceAll("(?i)PRIMARY\\s+KEY\\s*\\(?", "").stripSuffix(")")
          .split(",").map(_.trim).filter(_.nonEmpty)
        None
      case p =>
        val toks = p.split("\\s+")
        val name = toks.head
        val tpe = toks.drop(1).takeWhile(t => !t.equalsIgnoreCase("PRIMARY")).mkString(" ").toUpperCase
        if (p.toUpperCase.contains("PRIMARY KEY")) pk += name
        val decRe = """(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)""".r
        val dt = decRe.findFirstMatchIn(tpe) match {
          case Some(m) => DecimalType(m.group(1).toInt, Option(m.group(2)).map(_.toInt).getOrElse(0))
          case None =>
            val vcRe = """(?:VARCHAR|CHAR)\s*\(\s*\d+\s*\)""".r
            if (vcRe.findFirstIn(tpe).isDefined) StringType
            else typeMap.getOrElse(tpe.replaceAll("\\(.*", "").trim, StringType)
        }
        Some(StructField(name, dt))
    }
    val version = conflictClause.flatMap { c =>
      """(?is)VERSION\s+COLUMN\s*\(\s*(\w+)\s*\)""".r.findFirstMatchIn(c).map(_.group(1))
    }
    (StructType(fields.toSeq), pk.toSeq, version)
  }
}
