package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Word n-gram shingling as one native expression: distinct xxhash64
  * hashes of every n-word window, sorted ascending.
  *
  * This replaces the `transform(sequence(...), i -> concat_ws(" ",
  * slice(words, i, n)))` + `array_distinct` + `explode` + `xxhash64`
  * chain used by the shingle-based dedup/decontamination operators.
  * Spark 4 evaluates array lambdas on InterpretedMutableProjection,
  * so the HOF chain allocates a
  * sliced array + a concatenated string per window per row and ran
  * `text_decontaminate` at 37 s / sf0.1. Here the whole shingling is one
  * compiled loop: word bytes are materialized once per row, each window
  * is assembled into a reusable buffer and hashed with the SAME function
  * `xxhash64` uses (XXH64 over the UTF-8 bytes of
  * `w(i) + " " + ... + w(i+n-1)`, seed 42) — so downstream joins and
  * aggregates are value-identical to the old chain, while the oracle can
  * keep joining on gram STRINGS (equality of hashes == equality of grams
  * modulo 64-bit collisions, as before).
  *
  * The output is sorted + distinct so that [[SortedLongJaccard]] can
  * compute set overlap by linear merge with zero allocation.
  */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngram_hashes needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes expects ARRAY<STRING>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // null words → empty shingle set, matching the when(...).otherwise(array())
  // shape this expression replaced: consumers doing size() arithmetic never
  // see NULL, so the column is non-nullable end to end.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NgramHashes.emptyLongs()
    else NgramHashes.compute(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = ${childGen.isNull}
          ? graft.functions.NgramHashes.emptyLongs()
          : graft.functions.NgramHashes.compute(${childGen.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object NgramHashes {
  private val EmptyLongs = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** Static forwarder target for generated code (null words → empty set). */
  def emptyLongs(): ArrayData = EmptyLongs

  /** One row's shingling: n-word windows → xxhash64(seed 42) of the
    * space-joined gram bytes → sorted distinct. Called from generated
    * code (static forwarder), so it must stay a plain (ArrayData, Int)
    * signature. */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val hashes = hashAll(words, n)
    if (hashes == null) return EmptyLongs
    val nGrams = hashes.length
    java.util.Arrays.sort(hashes)
    var out = 1
    var k = 1
    while (k < nGrams) {
      if (hashes(k) != hashes(k - 1)) { hashes(out) = hashes(k); out += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (out == nGrams) hashes else java.util.Arrays.copyOf(hashes, out))
  }

  /** Positional variant ([[NgramHashesPos]]): hash per WINDOW, index
    * order, duplicates kept — hashes(i) is the gram starting at word i. */
  def computePos(words: ArrayData, n: Int): ArrayData = {
    val hashes = hashAll(words, n)
    if (hashes == null) EmptyLongs
    else UnsafeArrayData.fromPrimitiveArray(hashes)
  }

  /** The shared compiled loop: one hash per window in index order, or
    * null when there are fewer than n words. */
  private def hashAll(words: ArrayData, n: Int): Array[Long] = {
    val nw = words.numElements()
    if (nw < n) return null
    // null elements are SKIPPED, exactly like the concat_ws(" ", ...) the
    // scaladoc declares value-identity with (concat_ws drops nulls — no
    // separator either); split() never produces nulls, so this is
    // contract-keeping, not a live path
    val wb = new Array[Array[Byte]](nw)
    var i = 0
    while (i < nw) {
      val s = words.getUTF8String(i)
      wb(i) = if (s == null) null else s.getBytes
      i += 1
    }
    val nGrams = nw - n + 1
    val hashes = new Array[Long](nGrams)
    var buf = new Array[Byte](128)
    var g = 0
    while (g < nGrams) {
      var len = 0
      var present = 0
      var j = 0
      while (j < n) {
        val w = wb(g + j)
        if (w != null) { len += w.length; present += 1 }
        j += 1
      }
      len += math.max(present - 1, 0) // single-space separators
      if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length * 2))
      var off = 0
      var firstDone = false // off > 0 would miss a leading EMPTY word
      j = 0
      while (j < n) {
        val w = wb(g + j)
        if (w != null) {
          if (firstDone) { buf(off) = ' '.toByte; off += 1 }
          System.arraycopy(w, 0, buf, off, w.length)
          off += w.length
          firstDone = true
        }
        j += 1
      }
      hashes(g) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      g += 1
    }
    hashes
  }
}

/** [[NgramHashes]] without the sort/distinct: one xxhash64 per n-word
  * WINDOW in index order (duplicates kept), so `posexplode` recovers
  * (position, gram-hash) — the feeder for span-level coverage where the
  * distinct set loses exactly the positional information needed. Hash
  * function and gram assembly are byte-identical with [[NgramHashes]]
  * (the shared `hashAll` loop), so the two relations join on equal
  * values. */
case class NgramHashesPos(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"ngram_hashes_pos needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes_pos expects ARRAY<STRING>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NgramHashes.emptyLongs()
    else NgramHashes.computePos(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = ${childGen.isNull}
          ? graft.functions.NgramHashes.emptyLongs()
          : graft.functions.NgramHashes.computePos(${childGen.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Jaccard similarity |A∩B| / |A∪B| of two SORTED DISTINCT `ARRAY<LONG>`
  * columns (the [[NgramHashes]] output shape) by linear merge — zero
  * allocation per pair, vs the interpreted `array_intersect` +
  * `array_union` pair which rebuilds two arrays per candidate. Both
  * inputs MUST be sorted ascending and duplicate-free; feeding anything
  * else silently under-counts the intersection. Empty∪empty yields 0.0
  * (callers filter empty shingle sets out before pairing).
  *
  * Input type is strictly `ARRAY<BIGINT NOT NULL>`: arrays read back from
  * Parquet default to nullable elements even when no element is null, so
  * external callers must cast first — e.g.
  * `col("hs").cast("array<bigint>")` after a `filter(!exists(hs, isnull))`,
  * or rebuild via [[ShingleOps.ngram_hashes]], whose output already
  * carries `containsNull = false`.
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull = false required: compute() reads elements with
    // getLong, which is undefined over null slots. NgramHashes output
    // (the intended feeder) is containsNull = false already.
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_long_jaccard expects (ARRAY<BIGINT NOT NULL>, " +
        s"ARRAY<BIGINT NOT NULL>) sorted distinct, " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedLongJaccard.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedLongJaccard.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object SortedLongJaccard {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }
}

/** Per-row MinHash band hashes of a hash-set column: `numHashes`
  * signature slots m_k = min over the set of XXH64(element, seed = k),
  * folded into `numBands` band hashes (rows-per-band =
  * numHashes/numBands consecutive slots chained through XXH64). One
  * compiled loop per row, so signaturing a corpus or a streamed batch
  * is a narrow map with no shuffle; the only MinHash signature of the
  * text near-dup family, called once from
  * [[graft.operators.DedupQueries.bandSignatures]]. The values are
  * internal to the engine (never compared cross-engine), so the seed
  * scheme only needs determinism.
  * Empty input yields the seeds' fold of Long.MaxValue slots — empty
  * sets all land in the same buckets and are rejected by exact
  * verification (J(∅,∅) = 0.0 in [[SortedLongJaccard]]). */
case class MinhashBands(child: Expression, numHashes: Int, numBands: Int)
    extends UnaryExpression {
  require(numHashes > 0 && numBands > 0 && numHashes % numBands == 0,
    s"minhash_bands needs numBands | numHashes, got $numHashes/$numBands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects ARRAY<BIGINT NOT NULL>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) MinhashBands.compute(NgramHashes.emptyLongs(),
      numHashes, numBands)
    else MinhashBands.compute(v.asInstanceOf[ArrayData], numHashes, numBands)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = graft.functions.MinhashBands.compute(
          ${childGen.isNull} ? graft.functions.NgramHashes.emptyLongs()
            : ${childGen.value}, $numHashes, $numBands);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object MinhashBands {
  /** Static forwarder target for generated code. */
  def compute(hs: ArrayData, numHashes: Int, numBands: Int): ArrayData = {
    val n = hs.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var k = 0
      while (k < numHashes) {
        val v = XXH64.hashLong(h, k)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    val rows = numHashes / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = 42L
      var r = 0
      while (r < rows) {
        acc = XXH64.hashLong(mins(b * rows + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object ShingleOps {
  /** Column-world entry points. */
  def ngram_hashes(words: Column, n: Int): Column =
    bridge.column(NgramHashes(bridge.expression(words), n))

  def minhash_bands(hs: Column, numHashes: Int, numBands: Int): Column =
    bridge.column(MinhashBands(bridge.expression(hs), numHashes, numBands))

  def ngram_hashes_pos(words: Column, n: Int): Column =
    bridge.column(NgramHashesPos(bridge.expression(words), n))

  def sorted_jaccard(a: Column, b: Column): Column =
    bridge.column(SortedLongJaccard(bridge.expression(a),
      bridge.expression(b)))
}
