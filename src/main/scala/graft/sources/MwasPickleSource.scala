package graft.sources

import java.util
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for the reference's `.mwaspkl` tree — the engine's
  * (c)-tier SOURCE rung (expressions, optimizer rules, and a planner
  * strategy are the other rungs; this completes the ladder on the scan
  * side): `spark.read.format("mwaspkl").load(dir)` yields the flattened
  * per-set relation without the binaryFile + flatMap detour of
  * [[PickleCompat.readProjects]].
  *
  * What V2 buys over the binaryFile path, each mechanism real and
  * spec-gated:
  *
  *   - **Filter pushdown to the FILE LISTING.** The reference's layout is
  *     file-per-bioproject (`<bioproject>.mwaspkl`,
  *     main/converter_.py:52-58), so any `bioproject` equality / IN /
  *     prefix predicate prunes FILES before a byte is read — the moral
  *     equivalent of partition pruning, exact by construction (the
  *     filename IS the column), so pushed filters need no re-evaluation.
  *     On the reference's ~196k-file tree a one-project query opens 1
  *     file instead of 196k.
  *   - **Column pruning into the DECODER — cardinality-preserving.**
  *     Pruning must never change the relation's row count, so the
  *     decode-skip is limited to where the row count is knowable without
  *     the pickle VM: sentinel files (length ≤ 1 byte) are exactly one
  *     row by construction, and a meta-only projection reads their one
  *     byte instead of decoding. Ok-files always decode — their row
  *     count IS the number of condensed sets inside the pickle, and a
  *     shortcut that guessed "one row" made `df.count()` and
  *     status-census aggregates projection-dependent (the round-12
  *     advisor catch; the invariance is now spec-gated:
  *     `select("bioproject").count() == full-projection count`). What
  *     pruning still buys for ok-files is skipping the string/array
  *     MATERIALIZATION into rows, not the decode itself.
  *   - **Size-balanced task packing.** Files pack greedily into
  *     partitions by byte size (128 MiB target, every file its own cap),
  *     the many-small-files shape binaryFile handles with
  *     maxPartitionBytes — here explicit and unit-testable.
  *
  * Sentinel files ('0' empty / '1' blacklisted) and ok-files with zero
  * sets surface as ONE row with null set columns, so project-level
  * status is never silently dropped from the flat relation. No DuckDB
  * oracle exists (DuckDB cannot read pickles); the correctness gate is
  * the spec's cross-path identity against the binaryFile reader on the
  * reference-written fixtures, plus [[graft.sources.PickleCompatSpec]]'s
  * condenser round trip on the shared decoder.
  */
class MwasPickleSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mwaspkl"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MwasPickleSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "mwaspkl source requires .load(<dir>)")
    new MwasPickleTable(path)
  }
}

object MwasPickleSource {
  val Schema: StructType = StructType(Seq(
    StructField("bioproject", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("attributes", StringType, nullable = true),
    StructField("values", StringType, nullable = true),
    StructField("index_list", ArrayType(IntegerType, containsNull = false),
      nullable = true),
    StructField("include", BooleanType, nullable = true),
    StructField("n_biosamples", IntegerType, nullable = true)))

  /** Columns derivable from the filename + payload length alone — a
    * projection inside this set skips the pickle VM entirely. */
  private[sources] val MetaOnly = Set("bioproject", "status")

  /** Test hooks: full decodes executed / files planned by the last scan.
    * Plain counters (specs run their scans serially). */
  val decodeCount = new AtomicLong(0)
  val lastPlannedFiles = new AtomicReference[Seq[String]](Nil)
}

private[sources] class MwasPickleTable(path: String)
    extends Table with SupportsRead {
  override def name(): String = s"mwaspkl($path)"
  override def schema(): StructType = MwasPickleSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new MwasPickleScanBuilder(path)
}

private[sources] class MwasPickleScanBuilder(path: String)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = MwasPickleSource.Schema

  /** A filter is file-prunable iff it constrains `bioproject`, the
    * filename column. Pruning is exact, so accepted filters are NOT
    * returned for post-scan re-evaluation. */
  private def prunable(f: Filter): Boolean = f match {
    case EqualTo("bioproject", _: String) => true
    case In("bioproject", vs) => vs.forall(_.isInstanceOf[String])
    case StringStartsWith("bioproject", _) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition(prunable)
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new MwasPickleScan(path, required, pushed)
}

private[sources] class MwasPickleScan(path: String, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"mwaspkl path=$path, PushedFilters: ${pushed.mkString("[", ", ", "]")}" +
      s", ReadSchema: ${required.fieldNames.mkString(",")}"

  private def nameMatches(bioproject: String): Boolean =
    pushed.forall {
      case EqualTo("bioproject", v: String) => bioproject == v
      case In("bioproject", vs) => vs.exists(_ == bioproject)
      case StringStartsWith("bioproject", p) => bioproject.startsWith(p)
      case _ => true
    }

  /** Session Hadoop conf (spark.hadoop.* — object-store credentials,
    * defaultFS) captured ONCE on the driver; shipped to readers via
    * [[SerializableConfiguration]]. A bare `new Configuration()` here
    * silently dropped those settings, so the source only worked on
    * filesystems reachable with defaults (round-12 advisor catch). */
  private val hadoopConf = new SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(path).getFileSystem(hadoopConf.value)
    val files = fs.listStatus(new Path(path)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".mwaspkl"))
      .map(st => (st.getPath.toString, st.getLen))
      .filter { case (p, _) =>
        nameMatches(new Path(p).getName.stripSuffix(".mwaspkl"))
      }
      .sortBy(-_._2) // big files first: best-fit-ish greedy packing
    MwasPickleSource.lastPlannedFiles.set(files.map(_._1))
    val target = 128L * 1024 * 1024
    // first-fit by index (an indexOf on content-comparing tuples would
    // be O(n²) element-wise compares on a 196k-file tree)
    val bufs = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[String]]
    val used = scala.collection.mutable.ArrayBuffer.empty[Long]
    files.foreach { case (p, len) =>
      val i = used.indexWhere(_ + len <= target)
      if (i >= 0) { bufs(i) += p; used(i) += len }
      else { bufs += scala.collection.mutable.ArrayBuffer(p); used += len }
    }
    bufs.map(b => MwasPickleFiles(b.toSeq): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MwasPickleReaderFactory(required.fieldNames, hadoopConf)
}

private[sources] case class MwasPickleFiles(files: Seq[String])
    extends InputPartition

private[sources] class MwasPickleReaderFactory(fields: Array[String],
    hadoopConf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new MwasPickleReader(
      partition.asInstanceOf[MwasPickleFiles].files, fields, hadoopConf)
}

/** Streams the partition's files one at a time; per file, emits one row
  * per decoded set (or one null-set row for sentinels / zero-set files).
  * The pickle VM is skipped ONLY where the per-file row count is knowable
  * without it (1-byte sentinel files under a meta-only projection) —
  * column pruning never changes the relation's cardinality. */
private[sources] class MwasPickleReader(files: Seq[String],
    fields: Array[String], hadoopConf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val metaOnly =
    fields.forall(MwasPickleSource.MetaOnly.contains)
  private val fileIt = files.iterator
  private var rowIt: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def project(bioproject: String, status: String,
      attributes: String, values: String, idx: Seq[Int],
      include: java.lang.Boolean, nBio: java.lang.Integer): InternalRow =
    InternalRow.fromSeq(fields.toSeq.map {
      case "bioproject" => utf8(bioproject)
      case "status" => utf8(status)
      case "attributes" => if (attributes == null) null else utf8(attributes)
      case "values" => if (values == null) null else utf8(values)
      case "index_list" =>
        if (idx == null) null else ArrayData.toArrayData(idx.toArray)
      case "include" => include
      case "n_biosamples" => nBio
    })

  private def readAll(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      len: Long): Array[Byte] = {
    // len.toInt on a >2 GiB file silently truncated the buffer; the
    // reference's artifacts are small, but fail loudly rather than
    // corrupt (round-12 advisor catch).
    require(len <= Int.MaxValue,
      s"mwaspkl file $p is $len bytes — larger than the 2 GiB single-" +
        "buffer decode limit; this is not a valid reference artifact")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  private def rowsFor(file: String): Iterator[InternalRow] = {
    val p = new Path(file)
    val bioproject = p.getName.stripSuffix(".mwaspkl")
    val fs = p.getFileSystem(hadoopConf.value)
    val len = fs.getFileStatus(p).getLen
    if (len == 0)
      throw new IllegalArgumentException(
        s"corrupt/empty mwaspkl file (0 bytes): $p — the reference " +
          "writes either a 1-byte sentinel or a pickled DataFrame")
    if (metaOnly && len == 1) {
      // sentinel: exactly one row by construction — the only place the
      // pickle VM may be skipped without guessing the row count
      val in = fs.open(p)
      val b = try in.read() finally in.close()
      val status =
        if (b == '0') "empty" else if (b == '1') "blacklisted"
        else throw new IllegalArgumentException(
          s"unknown 1-byte sentinel '$b' in $bioproject")
      Iterator.single(project(bioproject, status, null, null, null, null,
        null))
    } else {
      val bytes = readAll(fs, p, len)
      if (bytes.length > 1) MwasPickleSource.decodeCount.incrementAndGet()
      val pk = PickleCompat.parse(bioproject, bytes)
      val nBio: java.lang.Integer = pk.biosamples.size
      if (pk.attributes.isEmpty)
        Iterator.single(project(bioproject, pk.status, null, null, null,
          null, if (pk.status == "ok") nBio else null))
      else if (metaOnly)
        // decode fixed the row count; pruning still skips materializing
        // the set strings/arrays into rows
        Iterator.fill(pk.attributes.size)(
          project(bioproject, pk.status, null, null, null, null, null))
      else
        pk.attributes.indices.iterator.map { i =>
          project(bioproject, pk.status, pk.attributes(i), pk.values(i),
            pk.index_lists(i), pk.includes(i), nBio)
        }
    }
  }

  override def next(): Boolean = {
    while (!rowIt.hasNext && fileIt.hasNext) rowIt = rowsFor(fileIt.next())
    if (rowIt.hasNext) { current = rowIt.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
