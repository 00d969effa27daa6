package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Pure-SQL access to [[Snapshots]] stores: a DataSourceV2
  * TableCatalog that maps every snapshot store under a warehouse
  * root to a SQL table, with Spark's own time-travel syntax wired to
  * the manifest layer —
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /data/warehouse
  *
  *   SELECT * FROM graft.events
  *   SELECT * FROM graft.events VERSION AS OF 3
  *   SELECT * FROM graft.events VERSION AS OF 'train-2026-08'  -- tag
  *   SELECT * FROM graft.events TIMESTAMP AS OF '2026-08-01'
  * }}}
  * Each query resolves ONE manifest and scans exactly that version's
  * immutable files under its pinned schema (snapshot isolation;
  * files older than an evolved column read it as null).
  *
  * Two scan paths, chosen per resolved version:
  *  - PLAIN stores (no deletion vectors, no renamed columns) ride
  *    Spark's parquet V2 path unchanged — predicate pushdown, column
  *    pruning and whole-stage codegen all apply.
  *  - Stores carrying merge-on-read deletion vectors or a column
  *    map scan through the engine's own EFFECTIVE read
  *    ([[Snapshots.readAsOf]]: DV anti-join + physical→logical
  *    translation) wrapped as a V1 relation — the GDPR-shaped
  *    `deleteWhereMor` no longer walls off SQL access until a full
  *    [[Snapshots.purgeDv]] rewrite. Column pruning pushes into the
  *    inner parquet scans; filters are applied inside as extra
  *    row-group pruning AND re-evaluated by Spark above the scan
  *    (conservative — the inner application can only remove rows the
  *    filter would remove anyway).
  *
  * The write surface routes through the SAME manifest layer as the
  * programmatic API (atomic commits, CDC, CHECK constraints, schema
  * gate): `INSERT INTO`/`INSERT OVERWRITE` ride the NATIVE V2 batch
  * write ([[GraftWriteBuilderV2]] — executor-side parquet staging
  * into the store root, one driver manifest commit); `DELETE FROM` →
  * [[Snapshots.deleteWhereCond]] (stats-pruned when the WHERE is a
  * band, exact attribution either way); `CREATE TABLE` (incl. CTAS) →
  * [[Snapshots.create]]; `ALTER TABLE RENAME/DROP COLUMN` → the
  * metadata-only [[Snapshots.renameColumn]]/[[Snapshots
  * .dropColumn]]. Destructive lifecycle (DROP of a store with
  * history, RENAME TABLE, other ALTERs) refuses loudly. */
class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catName: String = _
  private var rootUrl: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(rootUrl)
    .getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    rootUrl = options.get("root")
    require(rootUrl != null && rootUrl.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root=<warehouse dir>")
  }

  override def name(): String = catName

  private def urlOf(ident: Identifier): String = {
    require(ident.namespace.isEmpty,
      s"graft catalog tables are single-level: ${ident.namespace
        .mkString(".")}.${ident.name} — use $catName.<store>")
    // The catalog is writable (CREATE/INSERT/DELETE/DROP reach the
    // filesystem), so the identifier must not be able to escape the
    // warehouse root: a backtick-quoted `../other` or an absolute
    // path would otherwise resolve outside rootUrl. Same charset rule
    // as stream ids; '$' is carved out for the metadata-table suffix
    // which is stripped before this is called for the base store.
    require(ident.name.matches("[A-Za-z0-9_.\\-$]+") &&
      !ident.name.contains(".."),
      s"store name '${ident.name}' — only [A-Za-z0-9_.$$-] allowed " +
        "(no path separators, no '..'): catalog stores live directly " +
        s"under $rootUrl")
    new Path(rootUrl, ident.name).toString
  }

  override def listTables(ns: Array[String]): Array[Identifier] = {
    require(ns.isEmpty, "graft catalog has a single flat namespace")
    val root = new Path(rootUrl)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, "_snap")))
      .map(st => Identifier.of(Array.empty, st.getPath.getName))
      .sortBy(_.name).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty &&
      Snapshots.versions(spark, urlOf(ident)).nonEmpty

  private def tableAt(ident: Identifier, version: Int): Table = {
    val url = urlOf(ident)
    val vs = Snapshots.versions(spark, url)
    if (vs.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(Seq(catName, ident.name))
    val v = if (version > 0) version else vs.last
    val s = Snapshots.snap(spark, url, v)
    val label = s"$catName.${ident.name}@v$v"
    val needsEff = s.colmap.nonEmpty ||
      s.files.exists(_.contains(Snapshots.DvSep))
    val root = new Path(url)
    // the pinned schema IS the logical schema (colmap maps logical →
    // physical underneath); pre-pinning legacy stores are plain by
    // construction (rename/MoR require a pinned schema)
    val schema = s.schema.getOrElse {
      require(s.files.nonEmpty, s"$label has no schema source")
      require(!needsEff, s"$label has no pinned schema")
      spark.read.parquet(
        s.files.map(f => new Path(root, f).toString): _*).schema
    }
    // the effective scan's flavor is decided by the session: with
    // GraftExtensions installed the optimizer inlines the native
    // read plan ([[GraftEffInlineRule]]); without, the V1Scan
    // bridge serves it (correct, row-converting)
    val effKind =
      if (Option(spark.conf.get("spark.sql.extensions", ""))
          .exists(_.contains("GraftExtensions"))) "effective-inline"
      else "effective-v1"
    val props = Map("graft.version" -> v.toString, "graft.op" -> s.op,
      "graft.files" -> s.files.size.toString,
      "graft.url" -> url,
      "graft.scan" -> (if (needsEff) effKind else "parquet"))
    // only the LATEST resolution accepts writes: INSERT into a
    // time-travel or tag pin would rewrite history
    val writable = version <= 0
    if (needsEff)
      new GraftEffSqlTable(label, url, v, schema, props, writable)
    else {
      val paths = s.files.map(f => new Path(root, f).toString)
      new GraftSqlTable(label, url,
        ParquetTable(s"$catName.${ident.name}", spark,
          CaseInsensitiveStringMap.empty(), paths, Some(schema),
          classOf[ParquetFileFormat]),
        schema, props, writable)
    }
  }

  override def loadTable(ident: Identifier): Table =
    metaTable(ident).getOrElse(tableAt(ident, -1))

  /** `<store>$history` / `<store>$tags` / `<store>$txns` /
    * `<store>$changes` resolve as read-only METADATA tables over the
    * manifest layer (the `DESCRIBE HISTORY` surface without parser
    * extensions):
    * {{{
    *   SELECT * FROM graft.`events$history`  -- version/op/file deltas
    *   SELECT * FROM graft.`events$tags`     -- name → pinned version
    *   SELECT * FROM graft.`events$txns`     -- open intent journals
    *   SELECT * FROM graft.`events$changes`  -- full-history CDC feed
    * }}}
    * Each query re-derives from the manifests (O(versions) JSON
    * reads; `$changes` additionally reads each version's CHANGED
    * files) — always current, nothing cached. `$changes` needs the
    * store's key column and resolves it by the sidecar convention
    * ([[Snapshots.bloomKeyField]]: the single-field key-bloom);
    * keyless stores refuse with the setup named. */
  private def metaTable(ident: Identifier): Option[Table] = {
    val name = ident.name
    val i = name.lastIndexOf('$')
    if (i <= 0) return None
    val (store, kind) = (name.substring(0, i), name.substring(i + 1))
    val url = urlOf(Identifier.of(ident.namespace, store))
    if (Snapshots.versions(spark, url).isEmpty) return None
    val sp = spark
    val build: SparkSession => DataFrame = kind match {
      case "history" => s => Snapshots.history(s, url)
      case "tags" => s => {
        import s.implicits._
        Snapshots.tags(s, url).toDF("name", "version")
      }
      case "txns" => s => {
        import s.implicits._
        Snapshots.pendingTxns(s, url).toDF("txn")
      }
      case "changes" =>
        // handled by the dedicated range-pruning table below (the
        // build-function shape can't see scan options or pushed
        // version filters); the sentinel is never invoked
        _ => sys.error("unreachable: $changes builds its own scans")
      // An unknown '$' suffix is NOT an error here: a real store
      // whose name happens to contain '$' must still resolve, so
      // fall through to tableAt (loadTable's getOrElse) and let THAT
      // report not-found if no such store exists either.
      case _ => return None
    }
    // $changes' schema resolves from the manifest alone — analyzing
    // the O(versions) union plan just to LOAD the table would make
    // every resolution pay the whole feed's analysis
    kind match {
      case "changes" =>
        val schema = StructType(
          Snapshots.headSchema(sp, url).fields :+
            org.apache.spark.sql.types.StructField("_change",
              org.apache.spark.sql.types.StringType,
              nullable = false) :+
            org.apache.spark.sql.types.StructField("_commit_version",
              org.apache.spark.sql.types.LongType, nullable = false))
        Some(new GraftChangesSqlTable(s"$catName.$name", schema, url,
          catName, store))
      case _ =>
        Some(new GraftMetaSqlTable(s"$catName.$name", build(sp).schema,
          build))
    }
  }

  /** `VERSION AS OF n` — the manifest layer's time travel; a
    * non-integer version string resolves as a NAMED TAG
    * ([[Snapshots.setTag]]) — `VERSION AS OF 'train-2026-08'` pins
    * the tagged manifest. A non-positive integer refuses loudly
    * rather than silently resolving to the head (`tableAt`'s
    * negative arg is the internal latest sentinel, never a user
    * value). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val asInt = version.toIntOption
    asInt match {
      case Some(v) =>
        require(v >= 1,
          s"VERSION AS OF $v — graft versions start at 1")
        tableAt(ident, v)
      case None =>
        tableAt(ident,
          Snapshots.tagVersion(spark, urlOf(ident), version))
    }
  }

  /** `TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch;
    * the manifest layer resolves in milliseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tableAt(ident,
      Snapshots.versionAt(spark, urlOf(ident), timestamp / 1000L))

  private def readOnly(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog does not support DDL ($what) — manage store " +
        "lifecycle through the Snapshots API (create/renameColumn/" +
        "dropColumn/...); INSERT INTO/OVERWRITE are served through " +
        "the same manifest layer")

  /** `CREATE TABLE` (and the create half of CTAS): a new store at
    * `<root>/<name>` whose v1 is empty under the declared pinned
    * schema — [[Snapshots.create]], so every later SQL INSERT /
    * DELETE / time-travel behaves exactly like a programmatic
    * store. Partition transforms refuse (layout is the manifest
    * layer's job: `Snapshots.cluster`/`zcluster`). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft stores do not take partition transforms — lay data out " +
        "with Snapshots.cluster/zcluster after load")
    val url = urlOf(ident)
    Snapshots.create(spark, url, spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema), nFiles = 1)
    loadTable(ident)
  }

  /** `ALTER TABLE ... RENAME COLUMN / DROP COLUMN` map onto the
    * metadata-only [[Snapshots.renameColumn]]/[[Snapshots
    * .dropColumn]] commits (zero data files touched; old versions
    * keep their names; dropped physical slots stay reserved). Other
    * alterations refuse — type changes are a rewrite
    * ([[Snapshots.overwrite]]), new columns arrive by additive
    * evolution on the next INSERT. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val url = urlOf(ident)
    changes.foreach {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "graft columns are top-level — nested rename unsupported")
        Snapshots.renameColumn(spark, url, rc.fieldNames.head,
          rc.newName)
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "graft columns are top-level — nested drop unsupported")
        Snapshots.dropColumn(spark, url, dc.fieldNames.head)
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames.length == 1,
          "graft columns are top-level — nested add unsupported")
        require(ac.isNullable,
          "graft evolution adds NULLABLE columns only (existing " +
            "files read the new column as null)")
        require(ac.defaultValue == null,
          "graft columns carry no DEFAULT — backfill explicitly")
        Snapshots.addColumn(spark, url, ac.fieldNames.head,
          ac.dataType)
      case other => readOnly(s"ALTER TABLE ($other)")
    }
    loadTable(ident)
  }

  /** `DROP TABLE` only removes a store CTAS just made and left
    * empty (the cleanup path of a failed CTAS write): a single
    * `create` version with zero rows. Anything else refuses —
    * deleting a real store's history is an explicit filesystem
    * decision, not a SQL statement. */
  override def dropTable(ident: Identifier): Boolean = {
    val url = urlOf(ident)
    val vs = Snapshots.versions(spark, url)
    if (vs.isEmpty) return false
    require(vs == Seq(1) &&
      Snapshots.snap(spark, url, 1).op == "create" &&
      Snapshots.read(spark, url).isEmpty,
      s"DROP TABLE only removes an empty just-created store — " +
        s"$catName.${ident.name} has history; delete the directory " +
        "explicitly if that is really intended")
    val p = new Path(url)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")

  /** Maintenance as SQL stored procedures — `CALL graft.compact(
    * 'events', 8)` etc.; see [[GraftProcedures]] for the set. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql
      .connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty,
      s"graft procedures are single-level: use CALL $catName.<proc>")
    new GraftProcedure(catName, rootUrl, ident.name)
  }

  override def listProcedures(ns: Array[String]): Array[Identifier] = {
    require(ns.isEmpty, "graft catalog has a single flat namespace")
    GraftProcedures.specs.keys.toSeq.sorted
      .map(n => Identifier.of(Array.empty, n)).toArray
  }
}

private[sources] object GraftCatalog {
  /** Best-effort translation of a V2 pushed filter to a Column over
    * TOP-LEVEL attributes — used only as EXTRA pruning inside the
    * effective scan (Spark re-evaluates every filter above it), so
    * an untranslatable filter costs selectivity, never correctness.
    * Nested references (dotted names) are skipped: their resolution
    * rules differ. */
  def translate(f: sources.Filter): Option[Column] = {
    def ref(attr: String): Option[Column] =
      if (attr.contains(".") || attr.contains("`")) None
      else Some(col(attr))
    f match {
      case sources.EqualTo(a, v) => ref(a).map(_ === lit(v))
      case sources.EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
      case sources.GreaterThan(a, v) => ref(a).map(_ > lit(v))
      case sources.GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case sources.LessThan(a, v) => ref(a).map(_ < lit(v))
      case sources.LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
      case sources.In(a, vs) =>
        ref(a).map(_.isin(vs.toIndexedSeq.map(v => v: Any): _*))
      case sources.IsNull(a) => ref(a).map(_.isNull)
      case sources.IsNotNull(a) => ref(a).map(_.isNotNull)
      case sources.StringStartsWith(a, v) =>
        ref(a).map(_.startsWith(v))
      case sources.StringEndsWith(a, v) => ref(a).map(_.endsWith(v))
      case sources.StringContains(a, v) => ref(a).map(_.contains(v))
      case sources.And(l, r) =>
        for (lc <- translate(l); rc <- translate(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- translate(l); rc <- translate(r)) yield lc || rc
      case sources.Not(c) => translate(c).map(!_)
      case _ => None
    }
  }
}

/** Shared write surface of the catalog's tables: `INSERT INTO` and
  * `INSERT OVERWRITE` ride the NATIVE V2 batch write
  * ([[GraftWriteBuilderV2]]: executor-side parquet staging straight
  * into the store root, one driver-side manifest commit) — NOTHING
  * bypasses the manifest layer (atomic commit, CDC feed, CHECK
  * constraints, schema gate all apply exactly as in the programmatic
  * API; a violating INSERT refuses with the constraint's name).
  * Time-travel / tag resolutions are read-only: inserting into a
  * pinned version would rewrite history. DDL stays refused at the
  * catalog. */
private[sources] trait GraftSqlWrites
    extends org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  def storeUrl: String
  def writable: Boolean
  def label: String

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable,
      s"$label is a pinned time-travel resolution — INSERT targets " +
        "the latest version (drop the VERSION/TIMESTAMP AS OF)")
    new GraftWriteBuilderV2(storeUrl, info)
  }

  /** `DELETE FROM` → [[Snapshots.deleteWhereCond]], whose
    * copy-on-write contract prunes by stats when the WHERE is a band
    * and rewrites exactly the entries holding a match (NULL predicate
    * rows survive). Refuses untranslatable predicates at analysis via
    * [[canDeleteWhere]] rather than deleting the wrong rows. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    writable && filters.forall(f => GraftCatalog.translate(f).isDefined)
  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(writable,
      s"$label is a pinned time-travel resolution — DELETE targets " +
        "the latest version")
    val cond = filters.map(f =>
      GraftCatalog.translate(f).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE predicate $f is not translatable — use " +
            "Snapshots.deleteWhereCond")))
      .reduceOption(_ && _).getOrElse(lit(true))
    Snapshots.deleteWhereCond(SparkSession.active, storeUrl, cond): Unit
  }
}

/** What the catalog's two store tables share: the name, the pinned
  * schema, capabilities, properties and the table stream. */
private[sources] trait GraftStoreTable extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with GraftSqlWrites {
  protected def pinned: StructType
  protected def props: Map[String, String]

  override def name(): String = label
  override def schema(): StructType = pinned
  // MICRO_BATCH_READ only on the LATEST resolution: a stream over a
  // pinned time-travel version would either freeze or silently jump
  // to the head — both wrong shapes
  override def capabilities(): util.Set[TableCapability] =
    if (writable)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE,
        TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  /** Surfaced by `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`:
    * the resolved version, its op, its file count, the store url. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `spark.readStream.table(...)` over the `required` columns: the
    * manifest log streamed natively ([[GraftMicroBatchStream]]). */
  protected def stream(options: CaseInsensitiveStringMap)(
      required: StructType): MicroBatchStream = {
    val spark = SparkSession.active
    new GraftMicroBatchStream(spark, storeUrl, label, pinned, required,
      VersionStreamOptions.read(spark, storeUrl, label,
        k => Option(options.get(k))))
  }
}

/** V2 table over one resolved snapshot version: delegates the scan
  * to Spark's parquet V2 path (pushdown/pruning/codegen for free);
  * writes (latest resolution only) go through the manifest layer
  * ([[GraftSqlWrites]]). */
private[sources] class GraftSqlTable(val label: String,
    val storeUrl: String,
    underlying: ParquetTable,
    protected val pinned: StructType,
    protected val props: Map[String, String],
    val writable: Boolean) extends GraftStoreTable {
  /** Batch scans delegate verbatim to the parquet V2 builder
    * (pushdown/pruning/stats untouched); the SAME built scan also
    * answers `toMicroBatchStream`. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    org.apache.spark.sql.graftbridge.StreamBridge.wrapBuilder(
      underlying.newScanBuilder(options), stream(options))
}

/** Read-only V2 table whose scan is the engine's EFFECTIVE read of
  * one version — merge-on-read deletion vectors anti-joined away,
  * physical column names translated to logical ([[Snapshots
  * .readAsOf]]). Exposed through the V1Scan bridge: the relation's
  * RDD is the effective DataFrame's fully distributed plan, so the
  * DV anti-join and colmap projection run on executors exactly as
  * the programmatic read does. Column pruning pushes the required
  * schema into the inner plan (reaching the parquet scans);
  * translated filters apply inside as extra pruning while Spark
  * keeps its own Filter above (inexact-pushdown contract). */
private[sources] class GraftEffSqlTable(val label: String,
    val storeUrl: String, val effVersion: Int,
    protected val pinned: StructType,
    protected val props: Map[String, String],
    val writable: Boolean) extends GraftStoreTable {
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftEffScanBuilder(storeUrl, effVersion, pinned,
      stream(options))
}

private[sources] class GraftEffScanBuilder(url: String, version: Int,
    full: StructType,
    mkStream: StructType => MicroBatchStream) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private var required: StructType = full
  private var inner: Array[sources.Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    inner = filters.filter(f => GraftCatalog.translate(f).isDefined)
    filters // ALL filters re-evaluated above the scan (inexact push)
  }
  override def pushedFilters(): Array[sources.Filter] = Array.empty

  /** `SELECT ... LIMIT n` bounds the INNER effective plan (the DV
    * anti-join stops once n surviving rows are produced) instead of
    * materializing the whole store for Spark's CollectLimit to
    * discard. Spark only offers the limit when nothing sits between
    * it and the scan — our filters are inexact-pushed (re-evaluated
    * above as a Filter node), so a filtered query never reaches
    * here with rows still to drop. Partial-push contract kept
    * (Spark retains its own Limit above — free, and robust to any
    * future inexactness inside). */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  override def build(): Scan = {
    val req = required
    val flt = inner
    val lim = limit
    new V1Scan {
      override def readSchema(): StructType = req
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new GraftEffRelation(context, url, version, req, flt, lim)
          .asInstanceOf[T]
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        mkStream(req)
    }
  }
}

/** Read-only V2 table over a re-derived metadata frame (history,
  * tags, open transactions): the builder runs at scan time, so every
  * query sees the CURRENT manifest state. */
private[sources] class GraftMetaSqlTable(label: String,
    pinned: StructType,
    mk: SparkSession => DataFrame) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = label
  override def schema(): StructType = pinned
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = pinned
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = {
        val req = required
        new V1Scan {
          override def readSchema(): StructType = req
          override def toV1TableScan[
              T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = req
              override def buildScan(): RDD[Row] = {
                val df = mk(context.sparkSession)
                val pruned =
                  if (req.isEmpty) df.select()
                  else df.select(req.fieldNames.toSeq.map(col): _*)
                pruned.rdd
              }
            }.asInstanceOf[T]
        }
      }
    }
}

/** The `store$changes` metadata table: the whole-history CDC feed
  * with VERSION-RANGE leg pruning. A `WHERE _commit_version >= lo
  * AND _commit_version <= hi` (and `=`) pushes into the scan
  * builder, which hands [[Snapshots.changesRange]] only the range's
  * bounds — the plan carries k legs for a k-version range instead of
  * one per version of the store's whole history (on a long-history
  * store the full union is an analyzer bottleneck even though every
  * out-of-range leg folds empty). The filters are ALSO left residual
  * (pushFilters returns them unhandled), so Spark re-applies them —
  * pruning quality, never correctness, depends on the bound math.
  * Read options (the Delta CDF conventions): `startingVersion` /
  * `endingVersion` scope the range explicitly; `keyCol` names the
  * per-version unique key for stores that never built the
  * single-field key-bloom sidecar the table otherwise resolves the
  * key from. */
private[sources] class GraftChangesSqlTable(label: String,
    pinned: StructType, url: String, catName: String, store: String)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = label
  override def schema(): StructType = pinned
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var required: StructType = pinned
      private var loV: Option[Int] =
        Option(options.get("startingVersion")).map(_.toInt)
      private var hiV: Option[Int] =
        Option(options.get("endingVersion")).map(_.toInt)
      private val keyOpt = Option(options.get("keyCol"))
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def pushFilters(
          filters: Array[sources.Filter]): Array[sources.Filter] = {
        def tighten(f: sources.Filter): Unit = f match {
          case sources.EqualTo("_commit_version", v: Number) =>
            val n = v.longValue
            if (n >= Int.MinValue && n <= Int.MaxValue) {
              loV = Some(loV.fold(n.toInt)(math.max(_, n.toInt)))
              hiV = Some(hiV.fold(n.toInt)(math.min(_, n.toInt)))
            }
          case sources.GreaterThanOrEqual("_commit_version",
              v: Number) =>
            val n = math.max(v.longValue, Int.MinValue.toLong).toInt
            loV = Some(loV.fold(n)(math.max(_, n)))
          case sources.GreaterThan("_commit_version", v: Number)
              if v.longValue < Int.MaxValue =>
            val n = math.max(v.longValue + 1,
              Int.MinValue.toLong).toInt
            loV = Some(loV.fold(n)(math.max(_, n)))
          case sources.LessThanOrEqual("_commit_version",
              v: Number) =>
            val n = math.min(v.longValue, Int.MaxValue.toLong).toInt
            hiV = Some(hiV.fold(n)(math.min(_, n)))
          case sources.LessThan("_commit_version", v: Number)
              if v.longValue > Int.MinValue =>
            val n = math.min(v.longValue - 1,
              Int.MaxValue.toLong).toInt
            hiV = Some(hiV.fold(n)(math.min(_, n)))
          case sources.And(l, r) => tighten(l); tighten(r)
          case _ => ()
        }
        filters.foreach(tighten)
        filters // all residual: Spark re-applies every predicate
      }
      override def pushedFilters(): Array[sources.Filter] =
        Array.empty
      override def build(): Scan = {
        val req = required
        val (lo, hi, key) = (loV, hiV, keyOpt)
        new V1Scan {
          override def readSchema(): StructType = req
          override def toV1TableScan[
              T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = req
              override def buildScan(): RDD[Row] = {
                val s = context.sparkSession
                val keyCol = key.orElse(
                  Snapshots.bloomKeyField(s, url)).getOrElse(
                  throw new UnsupportedOperationException(
                    s"$catName.`$store$$changes` needs the store's " +
                      "key column — maintain the single-field " +
                      "conventional key-bloom sidecar (Snapshots." +
                      s"indexBloom / CALL $catName.index_bloom), " +
                      "pass a keyCol read option, or use spark." +
                      "readStream.format(\"graft-changes\") with " +
                      "an explicit keyCol"))
                val df = Snapshots.changesRange(s, url, keyCol,
                  lo, hi)
                val pruned =
                  if (req.isEmpty) df.select()
                  else df.select(req.fieldNames.toSeq.map(col): _*)
                pruned.rdd
              }
            }.asInstanceOf[T]
        }
      }
    }
}

private[sources] class GraftEffRelation(ctx: SQLContext, url: String,
    version: Int, required: StructType,
    filters: Array[sources.Filter],
    limit: Option[Int] = None)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required
  /** Physical bytes of the version's data files (driver listing,
    * O(files)) — without this the V1 default (conf
    * defaultSizeInBytes = "huge") makes every MoR/renamed SQL scan
    * ineligible for broadcast joins on the no-extensions path. A
    * mild over-estimate (DV-deleted rows still count): broadcast
    * decisions only get MORE conservative. */
  override lazy val sizeInBytes: Long = {
    val root = new Path(url)
    val fs = root.getFileSystem(
      ctx.sparkSession.sessionState.newHadoopConf())
    // one listing, not one RPC per file
    val lenByName = fs.listStatus(root).iterator.filter(_.isFile)
      .map(st => st.getPath.getName -> st.getLen).toMap
    Snapshots.snap(ctx.sparkSession, url, version).files
      .map(f => lenByName.getOrElse(
        Snapshots.splitEntry(f)._1, 0L)).sum
  }
  override def buildScan(): RDD[Row] = {
    var df: DataFrame =
      Snapshots.readAsOf(ctx.sparkSession, url, version)
    filters.flatMap(GraftCatalog.translate)
      .foreach(c => df = df.filter(c))
    val pruned =
      if (required.isEmpty) df.select()
      else df.select(required.fieldNames.toSeq.map(col): _*)
    limit.fold(pruned)(pruned.limit).rdd
  }
}

/** Optimizer rule (injected by `graft.functions.GraftExtensions`,
  * BEFORE [[GraftEffInlineRule]] in the batch): answer bare global
  * METADATA-PRICEABLE aggregates over a graft store from sidecars —
  *  - `count(*)` from parquet FOOTERS ([[Snapshots.rowCountMeta]]:
  *    one small metadata read per file, MoR positions subtracted
  *    exactly, no data page opened);
  *  - `min(col)`/`max(col)` of an integral stats-indexed column
  *    from the `_stats` sidecar ([[Snapshots.statsMinMax]]: exact
  *    per-entry extrema the index job aggregated from effective
  *    rows — O(files) sidecar rows, nulls ignored like SQL's
  *    min/max; refused unless every entry of the version is
  *    covered, so a stale sidecar can never hide the extremum)
  * — and replace the whole aggregate with the precomputed local row.
  * The resolved table pins a version and a version's aggregates are
  * immutable, so optimization-time pricing is sound (the same move
  * as Spark's own metadata-only-query rule, which lists partitions
  * in the optimizer). Applies ONLY to the exact global shape with
  * nothing between the aggregate and the relation but
  * attribute-preserving projections: any filter, grouping,
  * expression-valued projection, or other aggregate falls through
  * to the normal scan. */
final case class GraftMetaAggRule(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._

  /** (url, pinned version) when the plan is exactly a graft store
    * relation under zero-or-more row-preserving projections. */
  private def storeOf(plan: LogicalPlan): Option[(String, Int)] =
    plan match {
      case Project(_, child) => storeOf(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftEffSqlTable => Some((t.storeUrl, t.effVersion))
        case t: GraftSqlTable =>
          t.properties().asScala.get("graft.version")
            .flatMap(_.toIntOption).map(v => (t.storeUrl, v))
        case _ => None
      }
      case _ => None
    }

  /** The relation COLUMN an aggregate argument names, resolved by
    * exprId through pass-through projections only (an alias of a
    * computed expression is not a column — falls through). */
  private def columnOf(plan: LogicalPlan,
      attr: AttributeReference): Option[String] = plan match {
    case Project(projList, child) =>
      projList.find(_.exprId == attr.exprId).flatMap {
        case a: AttributeReference => columnOf(child, a)
        case Alias(a: AttributeReference, _) => columnOf(child, a)
        case _ => None
      }
    case r: DataSourceV2Relation =>
      r.output.find(_.exprId == attr.exprId).map(_.name)
    case _ => None
  }

  private sealed trait MetaAgg
  private case object CountStar extends MetaAgg
  private case class MinOf(field: String, dt: DataType) extends MetaAgg
  private case class MaxOf(field: String, dt: DataType) extends MetaAgg

  private def classify(child: LogicalPlan)(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[MetaAgg] = e match {
    case Alias(inner, _) => classify(child)(inner)
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete,
        false, None, _) if v != null => Some(CountStar)
    case AggregateExpression(Min(a: AttributeReference), Complete,
        false, None, _) =>
      columnOf(child, a).map(MinOf(_, a.dataType))
    case AggregateExpression(Max(a: AttributeReference), Complete,
        false, None, _) =>
      columnOf(child, a).map(MaxOf(_, a.dataType))
    case _ => None
  }

  private def narrow(v: Option[Long], dt: DataType): Any =
    v.map { l =>
      dt match {
        case ByteType => l.toByte
        case ShortType => l.toShort
        case IntegerType => l.toInt
        case _ => l
      }
    }.orNull

  /** (filter condition, filter's child, url, version) when the plan
    * is Aggregate → [projections] → Filter → [projections] → store
    * relation — the filtered-count shape. */
  private def filteredStoreOf(plan: LogicalPlan): Option[
      (org.apache.spark.sql.catalyst.expressions.Expression,
        LogicalPlan, String, Int)] = plan match {
    case Project(_, child) => filteredStoreOf(child)
    case org.apache.spark.sql.catalyst.plans.logical
        .Filter(cond, child) =>
      storeOf(child).map { case (url, v) => (cond, child, url, v) }
    case _ => None
  }

  /** `cond` with every attribute renamed to the relation column it
    * reads ([[columnOf]]), the shape [[BandRoute.ofExpr]]
    * classifies; None when any attribute is not a relation column. */
  private def onColumns(
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      child: LogicalPlan)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val attrs = cond.collect { case a: AttributeReference => a }
    if (!attrs.forall(columnOf(child, _).isDefined)) None
    else Some(cond.transform { case a: AttributeReference =>
      a.withName(columnOf(child, a).get) })
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case agg @ Aggregate(Nil, exprs, child, _)
          if exprs.nonEmpty && storeOf(child).isDefined &&
            exprs.forall(e => classify(child)(e).isDefined) =>
        val (url, v) = storeOf(child).get
        val classes = exprs.map(e => classify(child)(e).get)
        // price every min/max field first: ANY unpriceable one keeps
        // the whole aggregate on the scan (no partial rewrite)
        val fields = classes.collect {
          case MinOf(f, _) => f
          case MaxOf(f, _) => f
        }.distinct
        val priced = fields.map(f =>
          f -> Snapshots.statsMinMax(session, url, f, v)).toMap
        if (priced.values.exists(_.isEmpty)) agg
        else {
          val values = classes.map {
            case CountStar => Snapshots.rowCountMeta(session, url, v)
            case MinOf(f, dt) => narrow(priced(f).get._1, dt)
            case MaxOf(f, dt) => narrow(priced(f).get._2, dt)
          }
          LocalRelation(agg.output.map(_.toAttribute),
            Seq(InternalRow.fromSeq(values)))
        }

      // Filtered count: `SELECT count(*) WHERE k BETWEEN lo AND hi`
      // priced by the stats-sidecar band walk (Snapshots.countWhere
      // on the range BandRoute.ofExpr classifies — EXACT by
      // construction: fully-contained files contribute n_rows −
      // n_null from metadata, straddling or uncovered files are
      // scan-counted with the residual, MoR positions subtracted).
      // Gated on sidecar coverage of the field so the
      // optimization-time work is a metadata walk plus at most the
      // band-straddling files, the same class of eager pricing as
      // the bare-count arm above.
      case agg @ Aggregate(Nil, exprs, child, _)
          if exprs.nonEmpty && filteredStoreOf(child).isDefined &&
            exprs.forall(e =>
              classify(child)(e).contains(CountStar)) =>
        val (cond, fchild, url, v) = filteredStoreOf(child).get
        onColumns(cond, fchild).flatMap(BandRoute.ofExpr) match {
          case Some(r) if Snapshots.statsCovers(session, url, r.field) =>
            val n = Snapshots.countWhere(session, url, r.field, r.lo,
              r.hi, v)(r.key)._1
            LocalRelation(agg.output.map(_.toAttribute),
              Seq(InternalRow.fromSeq(exprs.map(_ => n))))
          case _ => agg
        }
    }
}

/** Optimizer rule (injected by `graft.functions.GraftExtensions`):
  * inline the EFFECTIVE table's own logical read plan in place of
  * the V2 relation, so a SQL scan of a merge-on-read or renamed
  * store is the SAME fully native plan the programmatic
  * [[Snapshots.readAsOf]] produces — parquet columnar batches, the
  * DV anti-join, the colmap projection, whole-stage codegen, and
  * Catalyst's own filter/column pushdown into the file scans. This
  * retires the V1Scan `RDD[Row]` bridge for reads: that path paid
  * an InternalRow → Row → InternalRow round trip per row and broke
  * codegen at the boundary (the r17 verdict's efficiency finding).
  *
  * The splice preserves the relation's output attribute ids via an
  * exprId-pinning Project, so nothing above re-resolves. WRITE
  * targets are left intact: a V2 write command or DELETE needs the
  * relation (its table object carries the write builder), so those
  * plans keep the native V2 batch write ([[GraftWriteBuilderV2]])
  * and [[GraftSqlWrites]] routing — only pure reads inline. Runs in the operator-
  * optimization fixed point BEFORE V2 scan pushdown, and the
  * spliced subtree contains no graft V2 relation, so the rewrite
  * happens exactly once per relation. The V1Scan bridge stays in
  * place as the no-extensions fallback (a session that configures
  * only the catalog, not the extensions, keeps working — slower). */
final case class GraftEffInlineRule(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, Project, V2WriteCommand}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val hasEff = plan.exists {
      case r: DataSourceV2Relation =>
        r.table.isInstanceOf[GraftEffSqlTable]
      case _ => false
    }
    if (!hasEff) return plan
    // relations a write/DML command targets must keep their table
    // object (the write builder and SupportsDelete routing live on
    // it) — collect them before transforming
    val protectedTables: Set[Table] = (plan.collect {
      case w: V2WriteCommand => w.table.collect {
        case r: DataSourceV2Relation => r.table }
      case d: DeleteFromTable => d.table.collect {
        case r: DataSourceV2Relation => r.table }
    }).flatten.toSet
    plan.transform {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftEffSqlTable] &&
            !protectedTables.contains(r.table) =>
        val t = r.table.asInstanceOf[GraftEffSqlTable]
        val inner = Snapshots
          .readAsOf(session, t.storeUrl, t.effVersion)
          .queryExecution.analyzed
        val byName = inner.output.map(a => a.name -> a).toMap
        val proj = r.output.map { a =>
          val src = byName.getOrElse(a.name,
            throw new IllegalStateException(
              s"${t.label}: effective read lost column ${a.name}"))
          Alias(src, a.name)(exprId = a.exprId)
        }
        Project(proj, inner)
    }
  }
}
