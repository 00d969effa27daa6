package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.schema.{CodecSpec, FieldSpec, GraftSchema}

/** Dataset materialization — the reference's `materialize_dataset`
  * context manager (etl/dataset_metadata.py:52-132) re-expressed as a
  * write pipeline:
  *
  *   1. encode each schema field through its codec (write-side
  *      projection, unischema.py:359-406 / dict_to_spark_row);
  *   2. parquet write with `parquet.block.size` = rowGroupSizeMb
  *      (reference sets the same hadoop conf, :135-178);
  *   3. store the schema (versioned JSON, not pickle) in a
  *      `_graft_metadata.json` sidecar (reference pickles into
  *      `_common_metadata`; a JSON sidecar is the same
  *      single-read-per-dataset contract without requiring a
  *      parquet-footer writer, and Spark/DuckDB ignore `_`-prefixed
  *      files). No reader needs a per-file row-group census from
  *      it, so it carries none and writing it runs no Spark job.
  *
  * Only petastorm's `_common_metadata` ([[writePetastormMetadata]])
  * carries per-file row-group counts, gathered from parquet footers
  * in a distributed job (reference does the same via a Spark map,
  * :208-241) — at 100 TB the listing is thousands of files and the
  * driver never opens them itself.
  */
object Materialize {
  val SidecarName = "_graft_metadata.json"

  /** Write-side codec projection: wraps each DataFrame column in its
    * field's encoder. Nullability is enforced for non-nullable fields
    * (parity: dict_to_spark_row raises on null for non-nullable,
    * unischema.py:380-392) via assert_true. */
  def encodeColumns(df: DataFrame, schema: GraftSchema): DataFrame = {
    val cols = schema.fields.map { f =>
      val c = col(f.name)
      val enc = f.codec match {
        case Some(CodecSpec("ndarray", _)) =>
          GraftFunctions.encodeTensor(shapeDims(f, c), c,
            graft.codecs.Dtype.forSparkType(f.dataType), compressed = false)
        case Some(CodecSpec("compressed_ndarray", _)) =>
          GraftFunctions.encodeTensor(shapeDims(f, c), c,
            graft.codecs.Dtype.forSparkType(f.dataType), compressed = true)
        case Some(CodecSpec(fmt @ ("png" | "jpeg"), args)) =>
          // pixels are uint8 stored as short (numpy-uint8 parity)
          GraftFunctions.encodeImage(shapeDims(f, c),
            c.cast(ArrayType(ShortType)), fmt,
            quality = args.getOrElse("quality", "80").toInt)
        case Some(CodecSpec("scalar", _)) => c.cast(f.dataType)
        case Some(CodecSpec(other, _)) =>
          throw new IllegalArgumentException(s"unknown codec $other for ${f.name}")
        case None => c
      }
      val checked =
        if (f.nullable) enc
        else when(c.isNull, raise_error(lit(
          s"field ${f.name} is not nullable but got null"))).otherwise(enc)
      checked.as(f.name, f.toStructField.metadata)
    }
    df.select(cols: _*)
  }

  /** dims for the encoder: fixed dims from the schema; a single
    * variable (-1) dim is derived from the flat array length at
    * runtime (reference shapes like (None, 128, 30) —
    * unischema.py:55-56). More than one variable dim is genuinely
    * ambiguous from a flat array and raises. The GRT1 codec verifies
    * dims-product == element count, so a non-divisible length fails
    * loudly at encode. */
  private def shapeDims(f: FieldSpec, c: Column): Column =
    if (f.shape.forall(_ > 0)) array(f.shape.map(lit): _*)
    else {
      require(f.shape.count(_ <= 0) == 1,
        s"at most one variable dim is derivable from a flat array, " +
          s"got shape ${f.shape.mkString("(", ",", ")")} for ${f.name}")
      val known = f.shape.filter(_ > 0).map(_.toLong).product.max(1L)
      val varDim = (size(c).cast("long") / lit(known)).cast("int")
      array(f.shape.map(d => if (d > 0) lit(d) else varDim): _*)
    }

  /** Read-side codec projection (utils.py:52-85 decode_row): inverse
    * of [[encodeColumns]]. Works on batch and streaming frames. */
  def decodeColumns(df: DataFrame, schema: GraftSchema): DataFrame =
    df.select(decodedColumns(schema): _*)

  /** [[decodeColumns]]'s projection, one column per schema field. */
  private[sources] def decodedColumns(schema: GraftSchema): Seq[Column] =
    schema.fields.map { f =>
      val c = col(f.name)
      (f.codec match {
        case Some(CodecSpec("ndarray" | "compressed_ndarray", _)) =>
          GraftFunctions.decodeTensor(c,
            graft.codecs.Dtype.forSparkType(f.dataType))
        // petastorm-store cells (np.save layout — see
        // UnischemaPickle.parse): flat C-order arrays typed by
        // family; npz cells (CompressedNdarrayCodec's
        // np.savez_compressed zip) unwrap first, then decode the
        // contained npy identically
        case Some(CodecSpec(fmt @ ("npy" | "npy_compressed"), _)) =>
          val cell =
            if (fmt == "npy") c else GraftFunctions.npzUnwrap(c)
          f.dataType match {
            case org.apache.spark.sql.types.FloatType |
                 org.apache.spark.sql.types.DoubleType =>
              GraftFunctions.npyDoubles(cell)
            case org.apache.spark.sql.types.StringType |
                 org.apache.spark.sql.types.BinaryType =>
              GraftFunctions.npyStrings(cell)
            case _ => GraftFunctions.npyLongs(cell)
          }
        case Some(CodecSpec("png" | "jpeg", _)) =>
          GraftFunctions.decodeImage(c)
        case Some(CodecSpec("scalar", _)) => c.cast(f.dataType)
        // plain scalar: no-op cast unless hive partition-value type
        // inference drifted from the stored logical type
        case None if !f.isTensor => c.cast(f.dataType)
        case _ => c
      }).as(f.name)
    }

  /** Materialize `df` (columns in schema's *logical* types) at `url`.
    * @param partitions optional repartition count before write — the
    *   reference's `partitions_count`/row-group sizing lever
    *   (tools/copy_dataset.py:74-90).
    * @param partitionCols hive-partition the store on these columns
    *   (reference stores use `partition_key=...` layouts,
    *   tests/test_common.py:161-245); predicates on them prune whole
    *   directories at read planning (P2/F2). */
  def materialize(df: DataFrame, url: String, schema: GraftSchema,
      rowGroupSizeMb: Int = 32, partitions: Option[Int] = None,
      overwrite: Boolean = true, partitionCols: Seq[String] = Nil): Unit = {
    val encoded = encodeColumns(df, schema)
    val sized = partitions.map(encoded.repartition).getOrElse(encoded)
    val writer = sized.write
      .option("parquet.block.size", rowGroupSizeMb.toLong * 1024 * 1024)
      .mode(if (overwrite) "overwrite" else "errorifexists")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(url)
    writeMetadata(df.sparkSession, url, schema)
  }

  /** Bucketed materialization for co-located joins: both sides of a
    * recurring large-large join written with the SAME bucket count on
    * the join key join WITHOUT a shuffle (each bucket pairs 1:1) —
    * the pre-partitioning lever the reference cannot express at all.
    * Catalog-backed (`saveAsTable`) because bucket metadata lives in
    * the table catalog; data lands at `path` with the graft sidecar,
    * so [[GraftRead]]/plain readers still work on the files. */
  def materializeBucketed(df: DataFrame, table: String, path: String,
      schema: GraftSchema, bucketCols: Seq[String], buckets: Int,
      rowGroupSizeMb: Int = 32): Unit = {
    require(bucketCols.nonEmpty && buckets > 0)
    // saveAsTable resolves relative paths against the warehouse dir —
    // qualify so `path` means what the caller's filesystem says
    val p = new Path(path)
    val qualified = p.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf()).makeQualified(p).toString
    encodeColumns(df, schema).write
      .option("parquet.block.size", rowGroupSizeMb.toLong * 1024 * 1024)
      .option("path", qualified)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
    writeMetadata(df.sparkSession, path, schema)
  }

  /** Petastorm-COMPATIBLE materialization: the same store layout the
    * reference's own `materialize_dataset` produces, so unmodified
    * petastorm (`make_reader`) opens it with no shim — the write-side
    * mirror of the q269 `.npy` read interop. Differences from
    * [[materialize]]: ndarray cells encode in the np.save layout
    * ([[graft.codecs.NpyEncode]], byte-identical to numpy) instead of
    * GRT1; image cells are the same genuine png/jpeg bytes; and the
    * metadata is petastorm's — a `_common_metadata` footer carrying
    * the PICKLED Unischema ([[UnischemaPickle]]) and the
    * row-groups-per-file JSON under the reference's keys
    * (etl/dataset_metadata.py:34-35). The graft sidecar is NOT
    * written: this store's tensor layout is petastorm's, and our own
    * engine reads it back through the inferred-schema path + the
    * `npy_*` decode family exactly as it reads a genuine petastorm
    * store. `compressed_ndarray` fields encode as genuine
    * `np.savez_compressed` zip cells ([[graft.codecs.NpzCodec]]) —
    * the reference's CompressedNdarrayCodec decodes them with
    * `np.load(memfile)['arr']` unmodified (codecs.py:197-199). */
  def materializePetastorm(df: DataFrame, url: String,
      schema: GraftSchema, rowGroupSizeMb: Int = 32,
      partitions: Option[Int] = None): Unit = {
    val cols = schema.fields.map { f =>
      val c = col(f.name)
      def npyDescr: String = f.dataType match {
        case org.apache.spark.sql.types.ByteType    => "<i1"
        case org.apache.spark.sql.types.ShortType   => "<i2"
        case org.apache.spark.sql.types.IntegerType => "<i4"
        case org.apache.spark.sql.types.LongType    => "<i8"
        case org.apache.spark.sql.types.FloatType   => "<f4"
        case org.apache.spark.sql.types.DoubleType  => "<f8"
        case org.apache.spark.sql.types.BooleanType => "|b1"
        case t => throw new IllegalArgumentException(
          s"no npy descr for tensor element type $t (${f.name})")
      }
      def npyCell: Column = f.dataType match {
        case org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType =>
          GraftFunctions.npyFromDoubles(
            c.cast(ArrayType(org.apache.spark.sql.types.DoubleType)),
            shapeDims(f, c), npyDescr)
        case _ =>
          GraftFunctions.npyFromLongs(
            c.cast(ArrayType(LongType)), shapeDims(f, c), npyDescr)
      }
      val enc = f.codec match {
        case Some(CodecSpec("ndarray", _)) => npyCell
        // the np.savez_compressed container petastorm's
        // CompressedNdarrayCodec decodes
        case Some(CodecSpec("compressed_ndarray" | "npy_compressed",
            _)) =>
          GraftFunctions.npzWrap(npyCell)
        case Some(CodecSpec(fmt @ ("png" | "jpeg"), args)) =>
          GraftFunctions.encodeImage(shapeDims(f, c),
            c.cast(ArrayType(ShortType)), fmt,
            quality = args.getOrElse("quality", "80").toInt)
        case Some(CodecSpec("scalar", _)) => c.cast(f.dataType)
        case None => c
        case Some(CodecSpec(other, _)) =>
          throw new IllegalArgumentException(
            s"codec '$other' is not petastorm-serializable " +
              "(see UnischemaPickle) — use materialize() or 'ndarray'")
      }
      val checked =
        if (f.nullable) enc
        else when(c.isNull, raise_error(lit(
          s"field ${f.name} is not nullable but got null"))).otherwise(enc)
      checked.as(f.name)
    }
    val encoded = df.select(cols: _*)
    val sized = partitions.map(encoded.repartition).getOrElse(encoded)
    sized.write
      .option("parquet.block.size", rowGroupSizeMb.toLong * 1024 * 1024)
      .mode("overwrite").parquet(url)
    writePetastormMetadata(df.sparkSession, url, schema)
  }

  /** Schema of a PETASTORM-written store, parsed from its own
    * `_common_metadata` pickle ([[UnischemaPickle.parse]]) — None
    * when the file or the unischema key is absent. The graft-side
    * mirror of the reference's `get_schema`
    * (etl/dataset_metadata.py:356-386). */
  def loadPetastormSchema(spark: SparkSession,
      url: String): Option[GraftSchema] =
    loadPetastormSchema(spark.sessionState.newHadoopConf(), url)

  private[sources] def loadPetastormSchema(conf: Configuration,
      url: String): Option[GraftSchema] = {
    val p = new Path(new Path(url), "_common_metadata")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      // Read the pickle from the RAW thrift footer bytes: parquet-mr
      // surfaces key-value metadata as UTF-8 Strings, which destroys
      // BINARY pickle protocols (modern py3 petastorm pickles at
      // protocol >= 3; only the py2-era protocol-0 pickles are
      // ASCII). In thrift-compact a KeyValue is `key: binary` then
      // `value: binary` — locate the varint-length-prefixed key and
      // take the length-prefixed value after its one-byte field
      // header; validated by requiring the pickle to actually parse.
      val st = fs.getFileStatus(p)
      val len = st.getLen.toInt
      val buf = new Array[Byte](len)
      val inS = fs.open(p)
      try inS.readFully(0, buf) finally inS.close()
      val key = "dataset-toolkit.unischema.v1"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      def varint(at: Int): (Long, Int) = {
        var v = 0L; var shift = 0; var i = at
        while ((buf(i) & 0x80) != 0) {
          v |= (buf(i) & 0x7fL) << shift; shift += 7; i += 1
        }
        v |= (buf(i) & 0x7fL) << shift
        (v, i + 1)
      }
      var at = 0
      var found: Option[GraftSchema] = None
      while (found.isEmpty && at + key.length < buf.length) {
        val hit = (0 until key.length).forall(k => buf(at + k) == key(k))
        if (hit) {
          try {
            val after = at + key.length
            // field header for `value` (binary, field id delta 1)
            if ((buf(after) & 0x0f) == 8) {
              val (vlen, dataAt) = varint(after + 1)
              if (vlen > 0 && dataAt + vlen <= buf.length) {
                val blob = java.util.Arrays.copyOfRange(
                  buf, dataAt, dataAt + vlen.toInt)
                // parse ONCE: the successful parse both validates
                // the hit and IS the result (a false hit throws and
                // the scan moves on)
                found = Some(UnischemaPickle.parse(blob))
              }
            }
          } catch {
            case _: Exception => found = None
          }
        }
        at += 1
      }
      found
    }
  }

  /** Write petastorm's `_common_metadata`: a footer-only parquet file
    * whose key-value metadata carries the pickled Unischema and the
    * row-groups-per-file JSON under the reference's keys — what
    * `make_reader`'s `get_schema`/`load_row_groups` read
    * (etl/dataset_metadata.py:356-386, :244-273). The physical
    * schema is copied from the first data file (petastorm opens the
    * file with `validate_schema=False`, but pyarrow still wants a
    * coherent footer). The pickle is protocol-0 ASCII, so the
    * Java-String (UTF-8) round trip is byte-exact. */
  def writePetastormMetadata(spark: SparkSession, url: String,
      schema: GraftSchema): Unit = {
    val files = listParquetFiles(spark, url)
    require(files.nonEmpty, s"no data files at $url")
    val conf = spark.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(files.head), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val (msgType, baseKv) =
      try {
        val fm = r.getFooter.getFileMetaData
        (fm.getSchema, fm.getKeyValueMetaData)
      } finally r.close()
    val counts = rowGroupCounts(spark, url)
    val countsJson = counts.toSeq.sortBy(_._1)
      .map { case (f, n) => s"${GraftSchema.quote(f)}: $n" }
      .mkString("{", ", ", "}")
    val out = new Path(new Path(url), "_common_metadata")
    val w = new org.apache.parquet.hadoop.ParquetFileWriter(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(out, conf),
      msgType, org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024, 0)
    w.start()
    val kv = new java.util.HashMap[String, String](baseKv)
    kv.put("dataset-toolkit.unischema.v1",
      new String(UnischemaPickle.pickle(schema),
        java.nio.charset.StandardCharsets.US_ASCII))
    kv.put("dataset-toolkit.num_row_groups_per_file.v1", countsJson)
    w.end(kv)
  }

  /** S9 parity (etl/petastorm_generate_metadata.py): (re)write the
    * schema sidecar for an existing parquet store — one small file
    * write, no footer read and no Spark job. */
  def writeMetadata(spark: SparkSession, url: String,
      schema: GraftSchema): Unit = {
    val json = s"""{"version":1,"schema":${schema.toJson}}"""
    val path = new Path(url, SidecarName)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // stage + rename: writeMetadata regenerates this over a live
    // store, and truncate-in-place would expose an empty/partial
    // sidecar to a crash or a concurrent reader (the
    // RowGroupIndex.updateBloom swap discipline)
    val tmp = new Path(url, SidecarName + "__tmp")
    fs.delete(tmp, false)
    val out = fs.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (fs.getUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(path.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // the nio move bypasses ChecksumFileSystem: drop the tmp's
      // now-orphaned .crc, and any stale .crc at the slot that
      // would poison reads with a checksum mismatch
      def crc(q: Path) = new Path(q.getParent, s".${q.getName}.crc")
      fs.delete(crc(tmp), false); fs.delete(crc(path), false)
    } else {
      if (fs.exists(path)) fs.delete(path, false)
      require(fs.rename(tmp, path), s"sidecar swap failed at $path")
    }
  }

  /** The sidecar's raw JSON, one filesystem read (None when absent). */
  private def readSidecar(conf: Configuration, url: String): Option[String] = {
    val path = new Path(url, SidecarName)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) None
    else Some(SidecarJson.slurp(fs, path))
  }

  /** Per-file row-group counts from parquet footers, gathered on the
    * executors (reference: dataset_metadata.py:208-241). Keyed by the
    * dataset-RELATIVE path, not the basename — identical part
    * filenames in different hive-partition subdirectories must not
    * collapse (ADVICE r2). */
  def rowGroupCounts(spark: SparkSession, url: String): Map[String, Int] =
    countsForFiles(spark, url, listParquetFiles(spark, url))

  /** Dataset-relative path for an absolute file under `url`. */
  private def relativizer(spark: SparkSession, url: String): String => String = {
    val rootPath = new Path(url)
    val rootUri = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(rootPath).toUri.getPath
    f => new Path(f).toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
  }

  private def countsForFiles(spark: SparkSession, url: String,
      files: Seq[String]): Map[String, Int] = {
    val n = files.length
    if (n == 0) return Map.empty
    val rel = relativizer(spark, url)
    val relOf = files.map(f => f -> rel(f)).toMap
    val parts = math.min(n, spark.sparkContext.defaultParallelism).max(1)
    // ship the SESSION hadoop conf to the executors: a bare
    // Configuration() loads only classpath XML and drops every
    // spark.hadoop.* override (object-store credentials/endpoints),
    // which breaks footer reads on any session-configured filesystem
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    spark.sparkContext.parallelize(files, parts).mapPartitions { it =>
      val conf = serConf.value
      it.map { f =>
        val p = new Path(f)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try f -> r.getFooter.getBlocks.size() finally r.close()
      }
    }.collect().toMap.map { case (f, c) => relOf(f) -> c }
  }

  /** Stable-sorted (O5 parity: dataset_metadata.py:274-279) parquet
    * file listing for a dataset directory. */
  def listParquetFiles(spark: SparkSession, url: String): Seq[String] =
    listParquetFiles(spark.sessionState.newHadoopConf(), url)

  private[sources] def listParquetFiles(conf: Configuration,
      url: String): Seq[String] = {
    val root = new Path(url)
    val fs = root.getFileSystem(conf)
    def walk(p: Path): Seq[String] = {
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet")) Seq(st.getPath.toString)
        else Nil
      }
    }
    walk(root).sorted
  }

  /** Load the stored GraftSchema, or None for plain parquet stores
    * (caller then infers — dataset_metadata.py:410-418 fallback). */
  def loadSchema(spark: SparkSession, url: String): Option[GraftSchema] =
    loadSchema(spark.sessionState.newHadoopConf(), url)

  private[sources] def loadSchema(conf: Configuration,
      url: String): Option[GraftSchema] =
    readSidecar(conf, url).map { json =>
      val idx = json.indexOf("\"schema\":")
      require(idx >= 0, s"malformed $SidecarName")
      // the schema object ends the sidecar, or precedes the
      // rowGroupCounts census older sidecars carry
      val end = json.indexOf(""","rowGroupCounts":""")
      val schemaJson = json.substring(idx + 9,
        if (end > 0) end else json.length - 1)
      GraftSchema.fromJson(schemaJson)
    }
}
