package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.MetadataCondenser

/** S4 — one-time migration reader for the reference's on-disk corpus of
  * condensed-metadata pickles (~196k `<bioproject>.mwaspkl` files, written
  * by main/converter_.py:52-58 and read back at main/mwas_general.py:132-148).
  *
  * Each file is either a 1-byte sentinel (`'0'` = empty input csv,
  * `'1'` = blacklisted bioproject, main/converter_.py:25-31) or two
  * back-to-back `pickle.dump`s:
  *
  *   1. `biosamples_ref` — a Python `list[str]` of biosample accessions in
  *      sorted order (main/metadata_set_maker.py:109);
  *   2. `set_df` — a pandas DataFrame with columns
  *      `attributes` (str), `values` (str), `biosample_index_list`
  *      (list[int] — positions into `biosamples_ref`), `include?` (bool)
  *      (main/metadata_set_maker.py:96-102).
  *
  * The decoder below is a small, self-contained pickle virtual machine for
  * the binary protocols (2–5, in-band) plus an interpretation layer for
  * exactly the object graph those two dumps produce: CPython builtins,
  * `numpy.ndarray` via `numpy.core.multiarray._reconstruct`, `numpy.dtype`,
  * and a pandas `DataFrame` carrying a `BlockManager` of
  * `pandas._libs.internals._unpickle_block` blocks (the stable pickle
  * layout since pandas 1.1; verified against pandas 2.x output). It
  * deliberately evaluates NOTHING: unknown callables become inert records,
  * so a hostile pickle cannot execute code — it can only fail to parse.
  *
  * Scale shape: `binaryFile` source → per-file parse in a `flatMap` on the
  * executors. 196k small files are the driver-listing + task-packing case
  * Spark's file index handles natively (`maxPartitionBytes` groups many
  * files per task); no driver-side content ever loads.
  */
object PickleCompat {

  // ---------------------------------------------------------------- model

  /** An unevaluated `module.name` reference from the pickle stream. */
  final case class PGlobal(module: String, name: String)

  /** An unevaluated object: `callable(*args)` from REDUCE/NEWOBJ, with any
    * later BUILD state attached. Mutable state is pickle's own model: the
    * object is pushed first, its state arrives afterwards. */
  final class PObj(val cls: PGlobal, val args: Vector[Any]) {
    var state: Any = null
    override def toString = s"PObj(${cls.module}.${cls.name}, $args, $state)"
  }

  /** Decoded n-dimensional array (only what pandas blocks need). */
  final case class NdArray(shape: Seq[Int], dtype: String, fortran: Boolean,
      data: IndexedSeq[Any])

  /** One parsed `.mwaspkl`: the ref list + the set_df rows. */
  final case class ProjectPickle(
      bioproject: String,
      status: String, // "ok" | "empty" | "blacklisted"
      biosamples: Seq[String],
      attributes: Seq[String],
      values: Seq[String],
      index_lists: Seq[Seq[Int]],
      includes: Seq[Boolean])

  // ---------------------------------------------------------- pickle VM

  private final val HighestSupportedProto = 5

  /** Minimal pickle VM: builds the object graph without evaluating any
    * callable. Supports the opcodes CPython 3.x emits for protocols 2–5
    * (in-band only — out-of-band buffers never appear in plain dumps). */
  private final class Unpickler(bytes: Array[Byte], var pos: Int) {
    private val stack = mutable.ArrayBuffer.empty[Any]
    private val marks = mutable.ArrayBuffer.empty[Int]
    private val memo = mutable.ArrayBuffer.empty[Any]

    private def u1: Int = { val b = bytes(pos) & 0xff; pos += 1; b }
    private def u2: Int = u1 | (u1 << 8)
    private def i4: Int = { val v = ByteBuffer.wrap(bytes, pos, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt; pos += 4; v }
    private def u8: Long = { val v = ByteBuffer.wrap(bytes, pos, 8)
      .order(ByteOrder.LITTLE_ENDIAN).getLong; pos += 8; v }
    private def take(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(bytes, pos, pos + n); pos += n; a
    }
    private def utf8(n: Int): String =
      new String(take(n), StandardCharsets.UTF_8)
    private def line(): String = {
      val nl = bytes.indexOf('\n'.toByte, pos)
      require(nl >= 0, "pickle: unterminated text line")
      val s = new String(bytes, pos, nl - pos, StandardCharsets.US_ASCII)
      pos = nl + 1; s
    }
    private def push(v: Any): Unit = stack += v
    private def pop(): Any = stack.remove(stack.size - 1)
    private def popMark(): Seq[Any] = {
      val m = marks.remove(marks.size - 1)
      val items = stack.slice(m, stack.size).toVector
      stack.remove(m, stack.size - m)
      items
    }
    private def longFromLE(b: Array[Byte]): Any = {
      if (b.isEmpty) 0L
      else {
        // little-endian two's complement (pickle LONG1 encoding)
        val be = b.reverse
        val big = BigInt(be)
        if (big.isValidLong) big.longValue else big
      }
    }

    def load(): Any = {
      while (true) {
        val op = u1
        (op: @annotation.switch) match {
          case 0x80 => // PROTO
            val v = u1
            require(v <= HighestSupportedProto, s"pickle protocol $v")
          case 0x95 => pos += 8 // FRAME — length hint only
          case '.' => return pop() // STOP
          case 0x94 => memo += stack.last // MEMOIZE
          case 'q' => val i = u1; while (memo.size <= i) memo += null
            memo(i) = stack.last // BINPUT
          case 'r' => val i = i4; while (memo.size <= i) memo += null
            memo(i) = stack.last // LONG_BINPUT
          case 'h' => push(memo(u1)) // BINGET
          case 'j' => push(memo(i4)) // LONG_BINGET
          case 'N' => push(null) // NONE
          case 0x88 => push(true) // NEWTRUE
          case 0x89 => push(false) // NEWFALSE
          case 'K' => push(u1.toLong) // BININT1
          case 'M' => push(u2.toLong) // BININT2
          case 'J' => push(i4.toLong) // BININT
          case 0x8a => push(longFromLE(take(u1))) // LONG1
          case 0x8b => push(longFromLE(take(i4))) // LONG4
          case 'G' => // BINFLOAT — big-endian IEEE 754
            val v = ByteBuffer.wrap(bytes, pos, 8)
              .order(ByteOrder.BIG_ENDIAN).getDouble; pos += 8; push(v)
          case 0x8c => push(utf8(u1)) // SHORT_BINUNICODE
          case 'X' => push(utf8(i4)) // BINUNICODE
          case 0x8d => push(utf8(u8.toInt)) // BINUNICODE8
          case 'C' => push(take(u1)) // SHORT_BINBYTES
          case 'B' => push(take(i4)) // BINBYTES
          case 0x8e => push(take(u8.toInt)) // BINBYTES8
          case 0x96 => push(take(u8.toInt)) // BYTEARRAY8
          case ']' => push(mutable.ArrayBuffer.empty[Any]) // EMPTY_LIST
          case ')' => push(Vector.empty[Any]) // EMPTY_TUPLE
          case '}' => push(mutable.LinkedHashMap.empty[Any, Any]) // EMPTY_DICT
          case 0x8f => push(mutable.LinkedHashSet.empty[Any]) // EMPTY_SET
          case '(' => marks += stack.size // MARK
          case '0' => pop() // POP
          case '1' => popMark() // POP_MARK
          case '2' => push(stack.last) // DUP
          case 'a' => // APPEND
            val v = pop()
            stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] += v
          case 'e' => // APPENDS
            val items = popMark()
            stack.last.asInstanceOf[mutable.ArrayBuffer[Any]] ++= items
          case 'l' => push(mutable.ArrayBuffer(popMark(): _*)) // LIST
          case 't' => push(popMark().toVector) // TUPLE
          case 0x85 => val a = pop(); push(Vector(a)) // TUPLE1
          case 0x86 => val b = pop(); val a = pop(); push(Vector(a, b))
          case 0x87 =>
            val c = pop(); val b = pop(); val a = pop(); push(Vector(a, b, c))
          case 's' => // SETITEM
            val v = pop(); val k = pop()
            stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]](k) = v
          case 'u' => // SETITEMS
            val items = popMark()
            val d = stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]]
            items.grouped(2).foreach { case Seq(k, v) => d(k) = v }
          case 'd' => // DICT
            val items = popMark()
            val d = mutable.LinkedHashMap.empty[Any, Any]
            items.grouped(2).foreach { case Seq(k, v) => d(k) = v }
            push(d)
          case 0x90 => // ADDITEMS
            val items = popMark()
            stack.last.asInstanceOf[mutable.LinkedHashSet[Any]] ++= items
          case 0x91 => push(popMark().toSet) // FROZENSET
          case 'c' => push(PGlobal(line(), line())) // GLOBAL (text form)
          case 0x93 => // STACK_GLOBAL
            val name = pop().asInstanceOf[String]
            val module = pop().asInstanceOf[String]
            push(PGlobal(module, name))
          case 'R' => // REDUCE — record, never evaluate
            val args = pop()
            val callable = pop()
            push(reduceObj(callable, args))
          case 0x81 => // NEWOBJ — cls.__new__(cls, *args): same record
            val args = pop()
            val cls = pop()
            push(reduceObj(cls, args))
          case 0x92 => // NEWOBJ_EX — (cls, args, kwargs)
            pop(); val args = pop(); val cls = pop()
            push(reduceObj(cls, args))
          case 'b' => // BUILD — attach state to the object under the top
            val state = pop()
            stack.last match {
              case o: PObj => o.state = state
              case other =>
                throw new IllegalArgumentException(
                  s"pickle: BUILD on non-object $other")
            }
          case other =>
            throw new IllegalArgumentException(
              f"pickle: unsupported opcode 0x$other%02x at ${pos - 1}")
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def reduceObj(callable: Any, args: Any): PObj = callable match {
      case g: PGlobal => new PObj(g, args.asInstanceOf[Vector[Any]])
      case o: PObj => // e.g. dtype instance used as a callable — wrap through
        new PObj(o.cls, o.args :+ args)
      case other => throw new IllegalArgumentException(
        s"pickle: REDUCE on non-global $other")
    }
  }

  // ------------------------------------------------- numpy/pandas extraction

  private def asLongV(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case b: BigInt => b.longValue
    case other => throw new IllegalArgumentException(s"expected int, got $other")
  }

  /** numpy dtype code ("O", "b1", "<i8", ...) from the recorded
    * `numpy.dtype(code, False, True)` REDUCE. */
  private def dtypeCode(o: Any): String = o match {
    case p: PObj if p.cls.name == "dtype" =>
      p.args.head.asInstanceOf[String]
    case other => throw new IllegalArgumentException(s"expected dtype, got $other")
  }

  /** Decode `numpy.core.multiarray._reconstruct(ndarray, (0,), b'b')` with
    * BUILD state `(version, shape, dtype, is_fortran, data)`. */
  private def asNdArray(o: Any): NdArray = o match {
    case p: PObj if p.cls.name == "_reconstruct" || p.cls.name == "ndarray" =>
      val st = p.state.asInstanceOf[Vector[Any]]
      val shape = st(1).asInstanceOf[Vector[Any]].map(asLongV(_).toInt)
      val dt = dtypeCode(st(2))
      val fortran = st(3).asInstanceOf[Boolean]
      val n = shape.product
      // protocol 2 has no BINBYTES: byte payloads arrive as
      // _codecs.encode(<latin-1 string>, 'latin1') REDUCE records. Fail
      // loudly on any other codec or out-of-range char — getBytes would
      // silently substitute '?' and decode WRONG numeric data otherwise.
      val payload = st(4) match {
        case p: PObj if p.cls.module == "_codecs" && p.cls.name == "encode" =>
          val s = p.args.head.asInstanceOf[String]
          val codec = p.args.lift(1)
          require(codec.forall(_ == "latin1"),
            s"ndarray payload encoded with unsupported codec $codec")
          require(s.forall(_ <= 0xff.toChar),
            "latin-1 ndarray payload contains chars > U+00FF")
          s.getBytes(StandardCharsets.ISO_8859_1)
        case other => other
      }
      val data: IndexedSeq[Any] = payload match {
        case objs: mutable.ArrayBuffer[Any @unchecked] => objs.toIndexedSeq
        case raw: Array[Byte] =>
          val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
          dt.stripPrefix("<").stripPrefix("|") match {
            case "b1" => (0 until n).map(i => raw(i) != 0)
            case "i8" => (0 until n).map(i => bb.getLong(i * 8))
            case "i4" => (0 until n).map(i => bb.getInt(i * 4).toLong)
            case "f8" => (0 until n).map(i => bb.getDouble(i * 8))
            case "f4" => (0 until n).map(i => bb.getFloat(i * 4).toDouble)
            case other => throw new IllegalArgumentException(
              s"unsupported ndarray dtype $other")
          }
        case other => throw new IllegalArgumentException(
          s"unsupported ndarray payload $other")
      }
      NdArray(shape, dt, fortran, data)
    case other => throw new IllegalArgumentException(s"expected ndarray, got $other")
  }

  /** Column labels / row count from a pickled pandas Index. */
  private def indexValues(o: Any): Either[Int, Seq[Any]] = o match {
    case p: PObj if p.cls.name == "_new_Index" =>
      val cls = p.args(0).asInstanceOf[PGlobal].name
      val st = p.args(1).asInstanceOf[mutable.LinkedHashMap[Any, Any]]
      if (cls == "RangeIndex") {
        val start = asLongV(st("start")); val stop = asLongV(st("stop"))
        val step = asLongV(st("step"))
        Left((((stop - start) + step - 1) / step).toInt)
      } else Right(asNdArray(st("data")).data)
    case other => throw new IllegalArgumentException(s"expected Index, got $other")
  }

  /** Columns of a pickled pandas DataFrame as (name → values), decoding the
    * BlockManager layout (`_unpickle_block(values, placement, ndim)` per
    * block; placement is a builtins.slice or an int ndarray). */
  private def dataFrameColumns(o: Any): Seq[(String, IndexedSeq[Any])] = {
    val df = o match {
      case p: PObj if p.cls.name == "DataFrame" => p
      case other => throw new IllegalArgumentException(
        s"expected DataFrame, got $other")
    }
    // the constructor form REDUCE(DataFrame, ({col: values…},)) — what
    // [[PickleWrite]] emits (pandas' own dumps use the BlockManager
    // state form below)
    if (df.state == null && df.args.size == 1) {
      df.args.head match {
        case d: mutable.LinkedHashMap[Any @unchecked, Any @unchecked] =>
          return d.toSeq.map { case (k, v) =>
            k.toString -> v.asInstanceOf[mutable.ArrayBuffer[Any]].toIndexedSeq
          }
        case other => throw new IllegalArgumentException(
          s"DataFrame constructor arg is $other, expected a dict")
      }
    }
    val st = df.state.asInstanceOf[mutable.LinkedHashMap[Any, Any]]
    val mgr = st("_mgr").asInstanceOf[PObj]
    require(mgr.cls.name == "BlockManager",
      s"unsupported pandas manager ${mgr.cls}")
    val blocks = mgr.args(0).asInstanceOf[Vector[Any]].map(_.asInstanceOf[PObj])
    val axes = mgr.args(1).asInstanceOf[mutable.ArrayBuffer[Any]]
    val colNames = indexValues(axes(0)) match {
      case Right(vs) => vs.map(_.toString)
      case Left(_) => throw new IllegalArgumentException(
        "DataFrame with RangeIndex columns is not a set_df")
    }
    val nRows = indexValues(axes(1)) match {
      case Left(n) => n
      case Right(vs) => vs.size
    }
    val out = Array.fill[IndexedSeq[Any]](colNames.size)(null)
    blocks.foreach { b =>
      require(b.cls.name == "_unpickle_block" || b.cls.name == "new_block",
        s"unsupported block pickle ${b.cls}")
      val values = asNdArray(b.args(0))
      val placement: Seq[Int] = b.args(1) match {
        case s: PObj if s.cls.name == "slice" =>
          val Vector(a, b2, c) = s.args.map(asLongV(_).toInt)
          a.until(b2, c)
        case arr => asNdArray(arr).data.map(asLongV(_).toInt)
      }
      val Seq(blockCols, blockRows) = values.shape match {
        case Seq(c, r) => Seq(c, r)
        case Seq(r) => Seq(1, r) // 1-D block (single column)
        case other => throw new IllegalArgumentException(
          s"unexpected block shape $other")
      }
      require(blockRows == nRows && blockCols == placement.size,
        s"block shape ${values.shape} vs $nRows rows, ${placement.size} cols")
      placement.zipWithIndex.foreach { case (colPos, r) =>
        // C-order 2-D: block row r (= one df column) is the r-th stripe
        out(colPos) =
          if (values.fortran)
            (0 until nRows).map(i => values.data(i * blockCols + r))
          else values.data.slice(r * nRows, (r + 1) * nRows)
      }
    }
    colNames.zip(out.toSeq)
  }

  // --------------------------------------------------------- file decoding

  /** Parse one `.mwaspkl` payload. Total (list + DataFrame) decode; throws
    * with a precise message on anything outside the documented layout. */
  def parse(bioproject: String, bytes: Array[Byte]): ProjectPickle = {
    if (bytes.length == 1) {
      val status = bytes(0) match {
        case '0' => "empty"
        case '1' => "blacklisted"
        case b => throw new IllegalArgumentException(
          s"unknown 1-byte sentinel '$b' in $bioproject")
      }
      return ProjectPickle(bioproject, status, Nil, Nil, Nil, Nil, Nil)
    }
    try {
      val vm1 = new Unpickler(bytes, 0)
      val refs = vm1.load().asInstanceOf[mutable.ArrayBuffer[Any]]
        .map(_.toString).toSeq
      val vm2 = new Unpickler(bytes, vm1.pos)
      val cols = dataFrameColumns(vm2.load()).toMap
      val attrs = cols("attributes").map(_.toString)
      val vals = cols("values").map(_.toString)
      val idx = cols("biosample_index_list").map {
        case l: mutable.ArrayBuffer[Any @unchecked] => l.map(asLongV(_).toInt).toSeq
        case other => throw new IllegalArgumentException(
          s"biosample_index_list entry is $other")
      }
      val inc = cols("include?").map(_.asInstanceOf[Boolean])
      ProjectPickle(bioproject, "ok", refs, attrs.toSeq, vals.toSeq, idx.toSeq,
        inc)
    } catch {
      case e: IndexOutOfBoundsException =>
        // a truncated stream must surface as a parse error with the file's
        // identity, not a bare index exception from deep in the VM
        throw new IllegalArgumentException(
          s"truncated or corrupt pickle in $bioproject", e)
    }
  }

  // --------------------------------------------------------- Spark surface

  /** All `.mwaspkl` files under `dir` parsed on the executors. */
  def readProjects(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[ProjectPickle] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.mwaspkl").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, content) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
          .stripSuffix(".mwaspkl")
        parse(name, content)
      }
  }

  /** The reference's `biosamples_ref` side as a relation
    * (bioproject, idx, biosample_id) — SURVEY §2.2 S4's first table. */
  def biosampleRef(spark: SparkSession, dir: String): DataFrame =
    readProjects(spark, dir)
      .select(col("bioproject"),
        posexplode(col("biosamples")).as(Seq("idx", "biosample_id")))

  /** The migrated corpus in [[graft.etl.MetadataCondenser.condense]]'s
    * output schema — index lists resolved through the ref list to biosample
    * accessions, label pairs re-sorted to the condenser's canonical
    * (attribute, value) order, and the condenser's own set_id formula. A
    * user points this at the old pickle tree once, writes parquet, and
    * every engine query runs unchanged. */
  def condensedSets(spark: SparkSession, dir: String): DataFrame = {
    val exploded = readProjects(spark, dir)
      .filter(col("status") === "ok")
      .withColumn("n_biosamples", size(col("biosamples")))
      .select(col("bioproject"), col("biosamples"), col("n_biosamples"),
        posexplode(arrays_zip(col("attributes"), col("values"),
          col("index_lists"), col("includes"))).as(Seq("ord", "s")))
    exploded.select(
        col("bioproject"),
        col("s.attributes").as("attrs_raw"),
        col("s.values").as("vals_raw"),
        sort_array(transform(col("s.index_lists"),
          i => element_at(col("biosamples"), i + 1))).as("members"),
        col("s.includes").as("include"),
        col("n_biosamples"))
      // the reference appends merged labels in encounter order; the
      // condenser sorts pairs by (attribute, value) — canonicalize to the
      // condenser's order so migrated and freshly-condensed sets compare
      // equal (labels are '; '-joined pairwise: re-zip, sort, re-join)
      .withColumn("pairs", sort_array(arrays_zip(
        split(col("attrs_raw"), "; "), split(col("vals_raw"), "; "))))
      .select(
        col("bioproject"),
        array_join(col("pairs.0"), "; ").as("attributes"),
        array_join(col("pairs.1"), "; ").as("values"),
        col("members"),
        size(col("members")).as("n_stored"),
        col("include"),
        col("n_biosamples"),
        MetadataCondenser.setId.as("set_id"))
  }
}
