package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance operations as SQL stored procedures (Spark 4's
  * ProcedureCatalog — the Iceberg `CALL` surface, re-derived):
  * {{{
  *   CALL graft.recover_txns('events')
  *   CALL graft.compact('events', 8)           -- small_mb
  *   CALL graft.vacuum('events', 5, 3600000)   -- keep_from, grace_ms
  *   CALL graft.set_tag('events', 'gold', 3)
  *   CALL graft.purge_dv('events')
  *   CALL graft.row_count('events', -1)       -- footer-priced; -1 = head
  *   CALL graft.cluster('events', 'id', 8)
  *   CALL graft.index_stats('events', 'id,ts')
  *   CALL graft.index_bloom('events', 'id', 100000)
  *   CALL graft.retrain_index('docs', 'id', 'emb', 8, 300)
  *   CALL graft.refresh_sidecars('events')     -- stats + bloom, O(new files)
  *   CALL graft.detail('events')               -- DESCRIBE DETAIL row
  *   CALL graft.maintain(3, 3600000, 8)        -- whole warehouse
  * }}}
  * Every procedure is the SAME public API an operator would call
  * programmatically — the catalog adds addressing (store names
  * resolve under its root) and a result-set row, nothing else. All
  * procedures return their outcome as rows (a LocalScan: bounded,
  * driver-sized report data), so `CALL` results compose with SQL. */
private[sources] object GraftProcedures {

  final case class Spec(params: Seq[(String, DataType)],
      out: StructType,
      run: (SparkSession, String, Seq[Any]) => Seq[Seq[Any]])

  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, dt) =>
      StructField(n, dt, nullable = true) })

  val specs: Map[String, Spec] = Map(
    "recover_txns" -> Spec(
      Seq("store" -> StringType),
      out("recovered" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        Seq(Seq(Snapshots.recoverTxns(s, url).toLong))
      }),
    "compact" -> Spec(
      Seq("store" -> StringType, "small_mb" -> LongType),
      out("version" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        Seq(Seq(Snapshots.compactSmall(s, url,
          args(1).asInstanceOf[Long] * 1024 * 1024).toLong))
      }),
    "vacuum" -> Spec(
      Seq("store" -> StringType, "keep_from" -> LongType,
        "grace_ms" -> LongType),
      out("files_removed" -> LongType, "manifests_removed" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        val (f, m) = Snapshots.vacuum(s, url,
          args(1).asInstanceOf[Long].toInt, args(2).asInstanceOf[Long])
        Seq(Seq(f.toLong, m.toLong))
      }),
    "set_tag" -> Spec(
      Seq("store" -> StringType, "name" -> StringType,
        "version" -> LongType),
      out("name" -> StringType, "version" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        Snapshots.setTag(s, url, args(1).toString,
          args(2).asInstanceOf[Long].toInt)
        Seq(Seq(args(1).toString, args(2).asInstanceOf[Long]))
      }),
    "purge_dv" -> Spec(
      Seq("store" -> StringType),
      out("version" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        Seq(Seq(Snapshots.purgeDv(s, url).toLong))
      }),
    "row_count" -> Spec(
      Seq("store" -> StringType, "version" -> LongType),
      out("rows" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        Seq(Seq(Snapshots.rowCountMeta(s, url,
          args(1).asInstanceOf[Long].toInt)))
      }),
    "cluster" -> Spec(
      Seq("store" -> StringType, "field" -> StringType,
        "n_files" -> LongType),
      out("version" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        Seq(Seq(Snapshots.cluster(s, url, args(1).toString,
          args(2).asInstanceOf[Long].toInt).toLong))
      }),
    // the two sidecar builders that make the SQL DML pruning fire
    // (banded DELETE/UPDATE route on _stats coverage; MERGE's
    // rewrite prune discovers the conventional key bloom) — without
    // these a SQL-ONLY operator could not create what the SQL write
    // paths consume. `fields` is comma-separated.
    "index_stats" -> Spec(
      Seq("store" -> StringType, "fields" -> StringType),
      out("files_scanned" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        val fields = args(1).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
        Seq(Seq(Snapshots.indexStats(s, url, fields).toLong))
      }),
    "refresh_sidecars" -> Spec(
      Seq("store" -> StringType),
      out("stats_refreshed" -> BooleanType,
        "bloom_refreshed" -> BooleanType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        val (st, bl) = Snapshots.refreshSidecars(s, url)
        Seq(Seq(st, bl))
      }),
    "detail" -> Spec(
      Seq("store" -> StringType),
      out("version" -> LongType, "op" -> StringType,
        "n_files" -> LongType, "bytes" -> LongType,
        "rows_meta" -> LongType, "n_versions" -> LongType,
        "has_stats" -> BooleanType, "has_bloom" -> BooleanType,
        "has_vecindex" -> BooleanType, "colmap" -> StringType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        val vs = Snapshots.versions(s, url)
        require(vs.nonEmpty, s"no snapshot store at $url")
        val head = Snapshots.snap(s, url, vs.max)
        val p = new Path(url)
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        val bytes = head.files.map(f => fs.getFileStatus(
          new Path(p, Snapshots.splitEntry(f)._1)).getLen).sum
        Seq(Seq(vs.max.toLong, head.op, head.files.size.toLong,
          bytes, Snapshots.rowCountMeta(s, url), vs.size.toLong,
          fs.exists(SidecarDelta.statsPath(p)),
          fs.exists(SidecarDelta.bloomPath(p)),
          fs.exists(SidecarDelta.vecDir(p)),
          head.colmap.toSeq.sorted
            .map { case (l, ph) => s"$l->$ph" }.mkString(",")))
      }),
    "index_bloom" -> Spec(
      Seq("store" -> StringType, "fields" -> StringType,
        "expected_per_file" -> LongType),
      out("index_url" -> StringType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        val fields = args(1).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
        Snapshots.indexBloom(s, url, fields,
          expectedPerFile = args(2).asInstanceOf[Long])
        Seq(Seq(Snapshots.bloomSidecarUrl(s, url)))
      }),
    "retrain_index" -> Spec(
      Seq("store" -> StringType, "id_col" -> StringType,
        "emb_col" -> StringType, "k" -> LongType,
        "max_balance_x100" -> LongType),
      out("retrained" -> LongType, "version" -> LongType),
      (s, root, args) => {
        val url = new Path(root, args.head.toString).toString
        VectorIndex.retrain(s, url, args(1).toString,
          args(2).toString, args(3).asInstanceOf[Long].toInt,
          maxBalanceX100 = args(4).asInstanceOf[Long]) match {
          case Some(v) => Seq(Seq(1L, v.toLong))
          case None => Seq(Seq(0L,
            Snapshots.latest(s, url).toLong))
        }
      }),
    "maintain" -> Spec(
      Seq("keep_last" -> LongType, "grace_ms" -> LongType,
        "small_mb" -> LongType),
      out("store" -> StringType, "txns_recovered" -> LongType,
        "compacted" -> LongType, "files_vacuumed" -> LongType,
        "manifests_vacuumed" -> LongType, "versions_kept" -> LongType,
        "error" -> StringType),
      (s, root, args) => {
        Warehouse.maintain(s, root,
          keepLast = args.head.asInstanceOf[Long].toInt,
          graceMs = args(1).asInstanceOf[Long],
          smallBytes = args(2).asInstanceOf[Long] * 1024 * 1024)
          .collect().toSeq // per-store report, bounded
          .map(r => (0 until 7).map(r.get))
      })
  )

  def toInternal(schema: StructType, row: Seq[Any]): InternalRow =
    new GenericInternalRow(schema.fields.zip(row).map {
      case (f, v) => (f.dataType, v) match {
        case (_, null) => null
        case (StringType, s: String) => UTF8String.fromString(s)
        case (LongType, l: Long) => l
        case (BooleanType, b: Boolean) => b
        case (dt, other) => throw new IllegalStateException(
          s"procedure result cell $other does not fit $dt")
      }
    }.toArray[Any])
}

/** One named procedure of [[GraftCatalog]] — unbound (name lookup)
  * and bound (fixed parameter list; execution) in one class, since
  * the parameter lists are static. */
private[sources] class GraftProcedure(catName: String,
    rootUrl: String, procName: String)
    extends UnboundProcedure with BoundProcedure {
  private val spec = GraftProcedures.specs.getOrElse(procName,
    throw new IllegalArgumentException(
      s"unknown procedure $catName.$procName — " +
        GraftProcedures.specs.keys.toSeq.sorted.mkString(", ") +
        " exist"))

  override def name(): String = procName
  override def description(): String =
    s"graft maintenance procedure $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] =
    spec.params.map { case (n, dt) =>
      ProcedureParameter.in(n, dt).build() }.toArray

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val args: Seq[Any] = spec.params.zipWithIndex.map {
      case ((n, dt), i) =>
        require(!input.isNullAt(i),
          s"$procName: argument $n must not be null")
        dt match {
          case StringType => input.getUTF8String(i).toString
          case LongType => input.getLong(i)
          case other => throw new IllegalStateException(
            s"unsupported parameter type $other")
        }
    }
    val result = spec.run(SparkSession.active, rootUrl, args)
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = spec.out
      override def rows(): Array[InternalRow] =
        result.map(GraftProcedures.toInternal(spec.out, _)).toArray
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}
