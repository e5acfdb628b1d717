package graft.sources

import graft.operators.Rebalance
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types._

/** Export surface (tablite/export_utils.py). Distributed writers for the
  * formats that scale (csv/tsv/txt/parquet/json-lines); driver-side
  * formatters with row caps for the interchange blobs (sql inserts,
  * columnar json, html) — same scale posture as the reference, which
  * materializes these in memory.
  */
object Writers {

  /** CSV/TSV/TXT by suffix (export_utils.py:153-187; delimiter defaults
    * core.py:131-137). None → "" matches the reference's empty-string
    * null encoding.
    */
  def writeDelimited(df: DataFrame, path: String, delimiter: String = ","): Unit =
    Rebalance.spread(df).write.mode(SaveMode.Overwrite)
      .option("sep", delimiter)
      .option("header", "true")
      .option("emptyValue", "")
      .option("nullValue", "")
      // RFC-4180 doubled-quote escaping (Spark's default is backslash) —
      // must agree with readCsv's escape or a quoted value containing a
      // quote would not round-trip
      .option("escape", "\"")
      .csv(path)

  def toCsv(df: DataFrame, path: String): Unit = writeDelimited(df, path, ",")
  def toTsv(df: DataFrame, path: String): Unit = writeDelimited(df, path, "\t")
  def toText(df: DataFrame, path: String): Unit = writeDelimited(df, path, "|")

  /** Parquet replaces `.tpz` as the native persisted-table format
    * (SURVEY §1.1): schema self-describing, column-pruned reads,
    * predicate pushdown.
    */
  def save(df: DataFrame, path: String): Unit =
    Rebalance.spread(df).write.mode(SaveMode.Overwrite).parquet(path)

  /** ORC sink — the other columnar format Spark ships natively
    * (stripe-level statistics give the same pushdown/pruning story as
    * parquet; for Hive/Trino-adjacent deployments that standardize on
    * ORC). Same [[Rebalance.spread]] rule as [[save]].
    */
  def toOrc(df: DataFrame, path: String): Unit =
    Rebalance.spread(df).write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet layout: one directory per distinct
    * value tuple of `cols`. The 100 TB pruning tool for
    * LOW-cardinality selective columns (date, lang, source): a filter
    * on a partition column prunes whole directories at PLANNING time
    * (`PartitionFilters` in the scan, no file even opened), where
    * row-group statistics can only skip within files already listed.
    * Complements [[saveBucketed]] (join locality) and
    * [[Layout.saveZOrdered]] (multi-column range locality).
    */
  def savePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "savePartitioned: no partition columns")
    require(cols.forall(df.columns.contains),
      s"savePartitioned: missing ${cols.filterNot(df.columns.contains).mkString(", ")}")
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)
  }

  /** Compact a small-file parquet directory in place: continuous
    * ingestion (`Streams.ingest` sinks, `appendToMinhashIndex`, plain
    * `mode("append")` writers) leaves one file per (micro-batch × task);
    * thousands of KB-files make every later scan pay per-file open cost
    * and starve FilePartition packing. Rewrites the directory to
    * `ceil(bytes / targetBytes)` files (coalesce — no shuffle; row order
    * within surviving partitions is preserved, only file boundaries
    * move) via a temp sibling + atomic-ish swap: the new copy is fully
    * written and validated by ROW COUNT before the old directory is
    * replaced, so a crash mid-compaction leaves either the old or the
    * new complete directory, never a torn one. A
    * [[Layout.writeSkippingIndex]] sidecar, whose rows name the OLD
    * files, is rebuilt from its own schema after the swap (a crash in
    * the tiny window between swap and rebuild leaves no sidecar rather
    * than a stale one). NOT for directories with concurrent writers —
    * pause ingestion around the swap (same contract as
    * `Ann.compactIvfIndex`).
    */
  def compactDir(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L << 20): Unit = {
    require(targetBytes > 0, s"compactDir: targetBytes=$targetBytes")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(path)
    require(fs.exists(src), s"compactDir: $path does not exist")
    val df = spark.read.parquet(path)
    val before = df.count()
    val bytes = fs.getContentSummary(src).getLength
    val nFiles = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    fs.delete(tmp, true)
    df.coalesce(nFiles).write.parquet(tmp.toString)
    val after = spark.read.parquet(tmp.toString).count()
    require(after == before,
      s"compactDir: rewrite row count $after != source $before — aborting, source untouched")
    // a skipping sidecar names the old files — note its columns for the
    // post-swap rebuild instead of carrying it stale
    val skip = new org.apache.hadoop.fs.Path(src, "_skipping")
    val skipCols: Seq[String] =
      if (fs.exists(skip))
        spark.read.parquet(skip.toString).columns
          .filter(_.endsWith("__min")).map(_.stripSuffix("__min")).toSeq
      else Nil
    val trash = new org.apache.hadoop.fs.Path(path + "__compact_old")
    fs.delete(trash, true)
    require(fs.rename(src, trash), s"compactDir: could not move $path aside")
    if (!fs.rename(tmp, src)) {
      fs.rename(trash, src) // restore — leave the world as it was
      throw new IllegalStateException(s"compactDir: swap failed for $path; source restored")
    }
    fs.delete(trash, true)
    if (skipCols.nonEmpty) Layout.writeSkippingIndex(spark, path, skipCols)
  }

  /** Training-shard export: deterministic exactly-balanced round-robin
    * split ([[graft.operators.Sampling.shardDeterministic]]) written as
    * one directory per shard. Each shard is a reproducible uniform
    * sample of the corpus, so data-parallel training workers read
    * `shard=i` with no coordination and identical results on any rerun.
    * The repartition puts each shard's rows in one task → one file per
    * shard directory (plus hash-collision cotenants), the shape a
    * training loader wants.
    */
  def saveShards(df: DataFrame, path: String, idCol: String, numShards: Int,
      seed: Int = 0): Unit =
    graft.operators.Sampling.shardDeterministic(df, idCol, numShards, seed)
      .repartition(numShards, org.apache.spark.sql.functions.col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)

  /** Bucketed persisted table: pre-shuffles once at write time so every
    * later equi-join/aggregation on `keys` runs shuffle-free (both sides
    * bucketed with the same count → zero Exchange in the join plan).
    * The scale tool for dimension tables and repeatedly-joined facts.
    */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String], numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** ANSI-92 SQL text export (export_utils.py:12-48): CREATE TABLE +
    * INSERTs. Driver-side, capped.
    */
  def toSql(df: DataFrame, tableName: String, maxRows: Int = 100000): String = {
    def sqlType(dt: DataType): String = dt match {
      case _: IntegerType | _: LongType | _: ShortType => "INTEGER"
      case _: DoubleType | _: FloatType                => "REAL"
      case _                                           => "TEXT"
    }
    def lit(v: Any): String = v match {
      case null                  => "NULL"
      case n: java.lang.Number   => n.toString
      case b: java.lang.Boolean  => if (b) "1" else "0"
      case other                 => "'" + other.toString.replace("'", "''") + "'"
    }
    val cols = df.schema.fields
    val create = cols.map(f => s"${f.name} ${sqlType(f.dataType)}")
      .mkString(s"CREATE TABLE $tableName (", ", ", ");")
    val rows = df.limit(maxRows).collect()
    val inserts = rows.map(r =>
      (0 until r.length).map(i => lit(r.get(i)))
        .mkString(s"INSERT INTO $tableName VALUES (", ", ", ");"))
    (create +: inserts).mkString("\n")
  }

  /** Distributed JSONL write — one object per line, one file per
    * partition (the scale counterpart of [[toColumnarJson]]'s capped
    * driver-side envelope). `compression`: e.g. "gzip" — Spark's json
    * sink compresses per part-file, and [[Readers.readJsonl]] reads
    * the result back transparently (codec from the part-file
    * extension; non-gzip codecs depend on the deploy's Hadoop codec
    * set).
    */
  def toJsonl(df: DataFrame, path: String, compression: Option[String] = None): Unit = {
    val w = Rebalance.spread(df).write.mode(SaveMode.Overwrite)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** tablite's columnar JSON envelope (export_utils.py:139-143). */
  def toColumnarJson(df: DataFrame, maxRows: Int = 1000000): String = {
    val rows = df.limit(maxRows).collect()
    def enc(v: Any): String = v match {
      case null                 => "null"
      case n: java.lang.Number  => n.toString
      case b: java.lang.Boolean => b.toString
      case other                => "\"" + other.toString
        .replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
    }
    val colsJson = df.columns.zipWithIndex.map { case (c, i) =>
      "\"" + c + "\": [" + rows.map(r => enc(r.get(i))).mkString(", ") + "]"
    }.mkString(", ")
    s"""{"columns": {$colsJson}, "total_rows": ${rows.length}}"""
  }

  /** HTML preview (export_utils.py:204-208, base.py:1832-1857): header +
    * dtype subheader + first rows. Cell text is entity-escaped so a
    * value containing `<`/`&` cannot break the table structure;
    * [[graft.sources.Readers.readHtml]] unescapes after tag-stripping,
    * so the pair round-trips.
    */
  def toHtml(df: DataFrame, maxRows: Int = 100): String = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val rows = df.limit(maxRows).collect()
    val head = df.columns.map(c => s"<th>${esc(c)}</th>").mkString
    val dtypes = df.schema.fields.map(f => s"<th>${f.dataType.simpleString}</th>").mkString
    val body = rows.map(r =>
      "<tr>" + (0 until r.length).map(i =>
        s"<td>${Option(r.get(i)).map(v => esc(v.toString)).getOrElse("None")}</td>").mkString + "</tr>")
      .mkString("\n")
    s"<table><tr>$head</tr>\n<tr>$dtypes</tr>\n$body</table>"
  }

  /** [[toHtml]] to a file — the writer half of the html roundtrip; read
    * back with `Readers.readHtml(path, skipDataRows = 1)` (the dtype
    * subheader is a presentation row).
    */
  def writeHtml(df: DataFrame, path: String, maxRows: Int = 100): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      toHtml(df, maxRows).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** `show`/`to_ascii` parity (base.py:1685-1830): first-7/last-7 elision
    * with a dtype subheader row.
    */
  def toAscii(df: DataFrame, elide: Int = 7): String = {
    val total = df.count()
    val headRows = df.limit(elide).collect()
    val widths = df.columns.map(_.length.max(8))
    val header = df.columns.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val dtypeRow = df.schema.fields.zip(widths)
      .map { case (f, w) => f.dataType.simpleString.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val lines = headRows.map(r => (0 until r.length).zip(widths).map { case (i, w) =>
      Option(r.get(i)).map(_.toString).getOrElse("None").take(w).padTo(w, ' ')
    }.mkString("| ", " | ", " |"))
    val elision = if (total > elide) Seq(s"... ($total rows total)") else Nil
    (Seq(header, dtypeRow) ++ lines ++ elision).mkString("\n")
  }
}
