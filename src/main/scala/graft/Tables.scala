package graft

import java.io.{FileNotFoundException, IOException}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under `\$sfDir/<name>.parquet`.
  *
  * Each load reads its table's schema on the driver, from the parquet
  * footer, and hands it to the reader. Without a schema
  * `spark.read.parquet` infers one with a one-task Spark job that reads
  * that same footer; in a warm 4-core local session the job and its
  * scheduling gap cost 70–100 ms per load, and j1's four loads were
  * its whole construction time. The footer is converted by Spark's own
  * [[ParquetToSparkSchemaConverter]] over the session's conf, so the
  * timestamp, binary and int96 settings, and the Spark row-metadata
  * key a Spark writer leaves, give the types inference gives.
  *
  * A directory (a Spark-written table) is read as Spark's non-merging
  * inference reads it: the footer of `_common_metadata`, else of
  * `_metadata`, else of the first data file by path; hidden files,
  * `_SUCCESS` and checksum files are not data files. A missing table, a
  * directory without a data file, or a corrupt footer throws, naming
  * the path.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.parquet's `ts` physical type has drifted across generator
    * versions: TIMESTAMP(NANOS) (rejected by Spark's reader outright —
    * read via the legacy nanos-as-long escape hatch, set before the
    * footer is converted), then timestamp[us] with
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ,
    * which `unix_micros`/`window`/watermarks all reject). Normalize
    * every variant to a microsecond TimestampType here so downstream
    * operators see one stable type. The NTZ→TIMESTAMP cast is exact:
    * the session time zone is pinned to UTC in Verify/Bench/tests, so
    * the wall-clock micros are reinterpreted 1:1 as UTC instants —
    * identical to what DuckDB's epoch_us sees on the same file.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** The Spark schema of the parquet table at `path`, from one footer
    * read on the driver with its row groups skipped (see [[Tables]]). */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val file = if (st.isFile) st else schemaFile(fs.listStatus(root)).getOrElse(
      throw new FileNotFoundException(s"no parquet data file in the table directory $path"))
    try {
      val md = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, md),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    } catch {
      case NonFatal(e) =>
        throw new IOException(s"cannot read the parquet schema of ${file.getPath}", e)
    }
  }

  /** The file of a table directory whose footer Spark's non-merging
    * schema inference reads (`ParquetUtils.inferSchema`). */
  private def schemaFile(entries: Array[FileStatus]): Option[FileStatus] = {
    val files = entries.filter(_.isFile).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    def isData(n: String) =
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => isData(f.getPath.getName)))
  }

  /** Total on-disk bytes of the testdata tables under `sfDir` — the
    * input-scale signal [[derivedShuffleParts]] reads. Missing files
    * count 0, so a partial directory degrades gracefully. */
  def inputBytes(sfDir: String): Long =
    all.map(t => new java.io.File(s"$sfDir/$t.parquet").length()).sum

  /** Shuffle parallelism derived from INPUT SCALE instead of a
    * constant (r14, round brief §2: "make partitioning scale-adaptive
    * … rather than a constant tuned for either local mode or the
    * cluster"; guide §2.2: size partitions into the 100 MB–1 GB
    * range, not a few MB). Three regimes, one formula —
    * `clamp(bytes/256MB, cpus, bytes/2MB)` with a floor of 1:
    *
    *  - BIG inputs: `bytes / 256 MB` partitions (~256 MB of source
    *    input each — the §2.2 production band once intermediate
    *    fan-out is applied) — grows past the core count exactly when
    *    the data needs it;
    *  - MID inputs: the core count — enough partitions to fill the
    *    machine, none of them degenerate;
    *  - TINY inputs: at most `bytes / 2 MB` — a reduce task carrying
    *    under ~2 MB of source-derived data is dominated by its own
    *    ~15 ms launch, so a 32-core session on a 17 MB input spent
    *    more wall-clock scheduling empty reducers than computing
    *    (measured r14: 96-task stages with 0.25 s median tasks;
    *    static 8-partition A/B across the 30 heaviest gate queries:
    *    −14…−55% on 16 of them, ≤ +0.1 s on the rest, q1/e10/j12
    *    flat).
    *
    * The 2 MB floor is SOURCE bytes; heavy operators explode it
    * 10–100× downstream, which is what makes the resulting reduce
    * partitions land near the tens-of-MB sweet spot. AQE coalescing
    * cannot substitute: it only resizes SHUFFLE READS, while the
    * dominant overhead here was scan stages over materialized
    * (cached/checkpointed) relations whose partition count is frozen
    * at creation — measured: `minPartitionSize=8m` left the 96-task
    * stages at 96. */
  def derivedShuffleParts(bytes: Long, cpus: Int): Int = {
    val mb = 1L << 20
    val byData = bytes / (256L * mb)
    val floor = math.max(1L, cpus.toLong)
    val cap = math.max(1L, bytes / (2L * mb))
    math.min(math.max(floor, byData), cap).toInt
  }

  /** [[load]] + a guarded round-robin repartition to the session's
    * shuffle parallelism, for queries whose per-row map work
    * (tokenize + window-hash explodes, per-pair vector math) dominates
    * the scan. A testdata table is one parquet file with one row
    * group, and a row group is parquet's atomic read unit, so its scan
    * is a single task, and whole-stage codegen fuses every downstream
    * per-row expression into that task: t30 once spent ~2 s of
    * one-core CPU there while 31 cores idled. The repartition moves the
    * narrow projected columns once so the expensive map work runs at
    * full parallelism. Parallelism comes from
    * `spark.sql.shuffle.partitions`, never a constant.
    *
    * Scale guard: the spread fires only when the scan's own partition
    * count is under half the shuffle parallelism. A 100 TB corpus laid
    * out in splittable files already scans at full parallelism, and a
    * repartition there would shuffle the raw corpus for nothing. The
    * partition count comes from the scan's planned file splits; no job
    * runs. */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val shuffleParts =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val scanParts = df.rdd.getNumPartitions
    if (scanParts * 2 < shuffleParts) df.repartition(shuffleParts) else df
  }
}
