package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity/dedup hot kernels.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, `transform`)
  * evaluate their lambda per element with no codegen (CodegenFallback),
  * which makes O(pairs·dims) kernels interpreter-bound. These
  * expressions run the same arithmetic in tight JVM loops — same
  * operation order, bit-identical results — and every one of them
  * participates in whole-stage codegen (`DotProduct` emits its loop
  * inline; the others emit a call to their kernel method through a
  * codegen reference object — no per-row InternalRow, no boxing for
  * the primitive-returning kernels), so the 100 TB hot path stays
  * compiled end to end.
  */
object VectorExprs {

  /** dot(a, b) over array<double>, sequential left-to-right sum —
    * bit-identical to `aggregate(zip_with(a,b,*), 0.0, +)` and to the
    * DuckDB oracle's list_reduce fold.
    */
  def dotp(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** MinHash signature (array<long> of `numHashes` slots) from an
    * array of shingle hashes (int or long elements).
    */
  def minhashSig(hashes: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(hashes), numHashes))

  /** Unicode NFC canonicalization of a string column ([[NfcNormalize]]). */
  def nfc(text: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(text)))

  /** Sorted-distinct 64-bit hash set of token n-gram shingles — one
    * native pass replacing the interpreted transform/slice/concat_ws/
    * hash/array_distinct/array_sort chain (the dominant cost of the
    * dedup operators at scale).
    */
  def shingleSet(tokens: Column, n: Int): Column =
    GraftBridge.column(ShingleSet(GraftBridge.expression(tokens), n))

  /** |a ∩ b| for two SORTED long arrays via a merge walk — O(|a|+|b|),
    * no hash-set allocation per row.
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectSize(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** nBits-bit random-hyperplane LSH bucket of a double vector. */
  def hyperplaneBucket(vec: Column, nBits: Int): Column =
    GraftBridge.column(HyperplaneBucket(GraftBridge.expression(vec), nBits))

  /** Like [[hyperplaneBucket]] but over hyperplanes `bitOffset` ..
    * `bitOffset + nBits - 1` of the same deterministic sign stream —
    * table t of a multi-table LSH uses offset t·nBits, so the table
    * count is not capped by the 63 bits one packed long can hold
    * (24-bit buckets × 6 tables = 144 distinct hyperplanes).
    */
  def hyperplaneBucketAt(vec: Column, nBits: Int, bitOffset: Int): Column =
    GraftBridge.column(HyperplaneBucket(GraftBridge.expression(vec), nBits, bitOffset))

  /** The deterministic ±1 hyperplane component for (bit, dim) used by
    * [[HyperplaneBucket]] — public so an external oracle can embed the
    * identical sign matrix and replay the bucketing exactly.
    */
  def hyperplaneSign(bit: Int, d: Int): Double = {
    var z = (bit.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
    if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
  }

  /** One-pass 64-bit SimHash of a token array. */
  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  /** FNV-1a 64 of a single token. Identity: SimHash of a singleton is
    * the hash itself (each bit's lone vote reproduces the bit), so
    * this reuses the codegen'd [[SimHash64]] kernel — and the DuckDB
    * replay of the dedup_simhash oracle applies verbatim.
    */
  def tokenHash64(tok: Column): Column =
    simhash64(org.apache.spark.sql.functions.array(tok))

  /** Unit-normalized copy of an array<double> vector (zero → zero). */
  def l2Normalize(vec: Column): Column =
    GraftBridge.column(L2Normalize(GraftBridge.expression(vec)))

  /** Symmetric int8 quantization codes (array<int>) of an
    * array<double> vector.
    */
  def quantizeI8(vec: Column): Column =
    GraftBridge.column(QuantizeI8(GraftBridge.expression(vec)))

  /** struct(n_shingles, n_distinct, max_repeat, sum_sq) of a token
    * array's n-gram shingle multiset — per-doc repetition and
    * diversity stats (sum_sq = Σ count² feeds the Simpson index)
    * without a single shuffled row.
    */
  def shingleStats(tokens: Column, n: Int): Column =
    GraftBridge.column(ShingleStats(GraftBridge.expression(tokens), n))

  /** Count of `[a-z]+|[0-9]+|[^a-z0-9 ]` matches over an
    * already-lowercased string, as one UTF-8 byte scan.
    */
  /** Canonical Sennrich BPE merge of pair (l, r) in a symbol array:
    * ONE left-to-right imperative pass (merge each adjacency whose
    * left symbol was not consumed by the previous merge, continue
    * after the pair). NULL/absent rules arrive coalesced to the empty
    * string, which can never equal a non-empty symbol → identity.
    */
  def bpeMerge(syms: Column, l: Column, r: Column): Column =
    GraftBridge.column(BpeMerge(
      GraftBridge.expression(syms),
      GraftBridge.expression(coalesce(l, lit(""))),
      GraftBridge.expression(coalesce(r, lit("")))))

  def bpeCount(loweredText: Column): Column =
    GraftBridge.column(BpeTokenCount(GraftBridge.expression(loweredText)))

  /** Murmur3 64-bit finalizer over a long — the avalanche mix FNV-1a
    * lacks: FNV's high bits have poor entropy on short similar keys
    * (measured: only 160/256 top-byte values hit over 20k sequential
    * tokens), which breaks any consumer that addresses by bit
    * POSITION (HLL registers, leading-zero ranks). One xor-shift/
    * multiply sandwich makes every output bit uniform. Wrapping
    * mod-2⁶⁴ arithmetic — JVM longs natively, HUGEINT `% 2^64` in the
    * DuckDB replay.
    */
  def fmix64(h: Column): Column =
    GraftBridge.column(Fmix64(GraftBridge.expression(h)))

  /** The GPT-2 byte-level base symbols of a word — each UTF-8 byte
    * through a fixed 256-entry symbol table — as one compiled byte
    * walk. Replaces hex(encode(..)) → regexp_extract_all("..") →
    * conv(p,16,10) → element_at(typedLit(table)), which ran a regex
    * match plus a radix conversion per BYTE inside interpreted
    * lambdas (property-pinned equal, IntegrationSpec).
    */
  def byteSymbols(word: Column, table: IndexedSeq[String]): Column =
    GraftBridge.column(ByteSymbols(GraftBridge.expression(word), table))

  /** struct(n_tokens, n_masked, corrupted_text, target_text) of the
    * T5 span-corruption over (doc id, token array) — one compiled
    * pass replacing the interpreted transform/filter lambda chain
    * that evaluated the 3-pmod Lehmer mask up to three times per
    * position (Corpus.spanCorruptDeclarative, property-pinned equal).
    */
  def spanCorrupt(id: Column, toks: Column, permille: Int, seed: Long): Column =
    GraftBridge.column(SpanCorruptExpr(
      GraftBridge.expression(id), GraftBridge.expression(toks), permille, seed))

  /** array<struct<cell_id, sc, pm>> of the masked beam descent of one
    * query vector (array<double>) through a broadcast bisecting tree
    * ([[TreeDescend]]).
    */
  def treeDescend(
      qv: Column,
      tree: org.apache.spark.broadcast.Broadcast[FlatTree],
      widths: Seq[Int]): Column =
    GraftBridge.column(TreeDescend(GraftBridge.expression(qv), tree, widths))
}

/** Shared FNV-1a 64-bit primitives — single source of truth for the
  * cross-engine-deterministic hash contract used by ShingleSet and
  * SimHash64.
  */
private[graft] object Fnv {
  final val Offset = 0xcbf29ce484222325L
  final val Prime  = 0x100000001b3L
  def mixBytes(h0: Long, bs: Array[Byte]): Long = {
    var h = h0
    var b = 0
    while (b < bs.length) { h = (h ^ (bs(b) & 0xffL)) * Prime; b += 1 }
    h
  }
}

/** Helper: analysis-time type check for array-input expressions. */
private[functions] object ExprChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def requireArray(dt: DataType, elem: DataType, what: String): TypeCheckResult =
    dt match {
      case ArrayType(e, _) if e == elem => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$what requires array<${elem.simpleString}>, got ${other.simpleString}")
    }
}

/** Sequential-order dot product of two double arrays (codegen'd). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dotp requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
    }
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** One-pass MinHash signature over pre-hashed shingles.
  *
  * For each of `numHashes` universal-hash permutations
  * (aᵢ·h + bᵢ) mod p (p = 2³¹−1, products stay within 62 bits), keeps
  * the minimum over the input hashes. Permutation constants come from
  * a fixed SplitMix64 walk so signatures are stable across runs,
  * clusters, and releases.
  */
object MinHashSig {
  /** Mersenne prime modulus of the permutation family. */
  final val P: Long = 2147483647L

  /** The (a, b) coefficients of the `numHashes` universal-hash
    * permutations, generated by a fixed-seed SplitMix64 stream —
    * EXPOSED so the DuckDB oracle can embed the exact same constants
    * as SQL literals and replay every signature bit-exactly
    * (`minhash_recall_eval`). Single source of truth: the kernel
    * reads the same arrays.
    */
  def coeffs(numHashes: Int): (Array[Long], Array[Long]) = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0xBF58476D1CE4E5B9L
      var z = x
      z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      math.floorMod(z, P - 1) + 1
    }
    (Array.fill(numHashes)(next()), Array.fill(numHashes)(next()))
  }
}

/** Unicode NFC normalization (java.text.Normalizer, the JDK's ICU
  * port of UAX #15) — the canonicalization step AHEAD of normalized
  * dedup: composed vs decomposed accents (é vs e+U+0301), fullwidth
  * forms, and other canonically-equivalent byte sequences hash apart
  * under raw xxhash64 and so hide verbatim duplicates. Row-local,
  * codegen'd through a reference-object call; already-NFC strings
  * (the quick-check fast path covers all-ASCII, i.e. most of a crawl)
  * return the input UTF8String untouched — no copy.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcNormalize", this, classOf[NfcNormalize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private val P: Long = MinHashSig.P

  @transient private lazy val (as, bs): (Array[Long], Array[Long]) =
    MinHashSig.coeffs(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val intInput: Boolean = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target ([[doGenCode]] emits a call
    * through a reference object — no per-row InternalRow or boxing).
    */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(P)
    var i = 0
    while (i < n) {
      val h0 = if (intInput) arr.getInt(i).toLong else arr.getLong(i)
      val h = math.floorMod(h0, P)
      var j = 0
      while (j < numHashes) {
        val v = (as(j) * h + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Canonical Sennrich BPE pair merge over a symbol array — the hot
  * kernel of the BPE trainer/encoder (applied once per word per merge
  * step). A declarative formulation exists (TextAnalysis
  * .mergePositions/mergeApply — the DuckDB oracle replays that form)
  * but Spark's higher-order array lambdas are interpreted, and per
  * word per step the fold cost dominated bpe_encode at sf0.1; this
  * single compiled pass restores scan-speed encoding. The two
  * formulations are property-tested equal (NativeExprPropertySpec).
  */
case class BpeMerge(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  // element nullability follows the input array: compute() copies
  // unmatched elements through, so a nullable source stays nullable
  override def dataType: DataType = ArrayType(StringType,
    containsNull = first.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })

  protected override def nullSafeEval(s: Any, l: Any, r: Any): Any =
    compute(s.asInstanceOf[ArrayData],
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Kernel body, also the codegen target (reference-object call). */
  def compute(
      syms: ArrayData,
      l: org.apache.spark.unsafe.types.UTF8String,
      r: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val n = syms.numElements()
    val buf = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      if (syms.isNullAt(i)) {
        buf += null
        i += 1
      } else if (i + 1 < n && l.numBytes() > 0 && !syms.isNullAt(i + 1)
          && syms.getUTF8String(i) == l && syms.getUTF8String(i + 1) == r) {
        buf += org.apache.spark.unsafe.types.UTF8String.concat(l, r)
        i += 2
      } else {
        buf += syms.getUTF8String(i)
        i += 1
      }
    }
    new GenericArrayData(buf.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerge", this, classOf[BpeMerge].getName)
    nullSafeCodeGen(ctx, ev, (sv, lv, rv) =>
      s"${ev.value} = $ref.compute($sv, $lv, $rv);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, sE: Expression, t: Expression): BpeMerge =
    copy(first = f, second = sE, third = t)
}

/** Sorted-distinct FNV-1a hash set over token n-gram windows.
  *
  * Emits one 64-bit hash per shingle (tokens joined conceptually by a
  * separator; short docs collapse to one whole-doc shingle, matching
  * TextAnalysis.shingles), deduplicated and sorted so downstream
  * intersection is a merge walk. Any injective-in-practice hash keeps
  * Jaccard sizes identical to string-set semantics; FNV-1a over token
  * bytes is deterministic across runs, engines, and releases.
  */
case class ShingleSet(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, StringType, "shingle_set")

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target. */
  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    // zero tokens -> one whole-doc shingle of the empty string, matching
    // TextAnalysis.shingles / the oracle's [''] (so two empty docs are
    // J=1 duplicates, not silently incomparable)
    if (m == 0) return new GenericArrayData(Array(Fnv.Offset))
    val tokenBytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      // null tokens hash as empty (null-safe for SQL-surface callers)
      val u = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      tokenBytes(i) = if (u == null) Array.emptyByteArray else u.getBytes
      i += 1
    }
    val count = if (m >= n) m - n + 1 else 1
    val width = if (m >= n) n else m
    val out = new Array[Long](count)
    var w = 0
    while (w < count) {
      var h = Fnv.Offset
      var t = 0
      while (t < width) {
        h = Fnv.mixBytes(h, tokenBytes(w + t))
        h = (h ^ 0x20L) * Fnv.Prime // token separator
        t += 1
      }
      out(w) = h
      w += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted array
    var uniq = 1
    i = 1
    while (i < count) {
      if (out(i) != out(i - 1)) { out(uniq) = out(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, uniq))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleSet", this, classOf[ShingleSet].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** Intersection cardinality of two sorted long arrays (merge walk). */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  protected override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target (primitive int — unboxed). */
  def compute(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedIntersect", this,
      classOf[SortedIntersectSize].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = $ref.compute($x, $y);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket id: nBits sign bits of projections
  * onto deterministic ±1 hyperplanes (SplitMix64-derived per
  * (bit, dim)). One native pass over the vector replaces an
  * nBits×dims element_at expression tree.
  */
case class HyperplaneBucket(child: Expression, nBits: Int, bitOffset: Int = 0)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  private def sign(bit: Int, d: Int): Double = VectorExprs.hyperplaneSign(bit, d)

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target (primitive long — unboxed).
    * Bit i of the bucket is the sign of the projection onto hyperplane
    * `bitOffset + i` of the global deterministic sign stream.
    */
  def compute(v: ArrayData): Long = {
    val dims = v.numElements()
    var bucket = 0L
    var bit = 0
    while (bit < nBits) {
      var proj = 0.0
      var d = 0
      while (d < dims) { proj += v.getDouble(d) * sign(bitOffset + bit, d); d += 1 }
      if (proj > 0) bucket |= (1L << bit)
      bit += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneBucket", this,
      classOf[HyperplaneBucket].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** 64-bit SimHash of a token array in one pass — no explode, no
  * shuffle: per token, an FNV-1a hash votes ±1 on each of 64 bit
  * counters; the sign vector is the fingerprint. Per-doc computable,
  * so the only shuffle in simhash dedup is the band join.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, StringType, "simhash64")

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target (primitive long — unboxed). */
  def compute(arr: ArrayData): Long = {
    val m = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) { i += 1 } else {
      val bs = arr.getUTF8String(i).getBytes
      val h = Fnv.mixBytes(Fnv.Offset, bs)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
      i += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Murmur3 fmix64 finalizer (Appleby, public domain): three xor-shifts
  * around two wrapping multiplies. See [[VectorExprs.fmix64]].
  */
case class Fmix64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fmix64 requires bigint, got ${other.simpleString}")
    }

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Long])

  /** Kernel body, also the codegen target (primitive long — unboxed). */
  def compute(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 33)
    h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33)
    h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fmix64", this, classOf[Fmix64].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Fmix64 =
    copy(child = newChild)
}

/** Unit-normalize a double vector: x / sqrt(Σx²), with the sum taken
  * sequentially left-to-right so the norm (and therefore every output
  * component — sqrt and division are correctly rounded in IEEE 754) is
  * bit-identical to any engine folding the squares in index order.
  * The zero vector maps to the zero vector.
  */
case class L2Normalize(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, DoubleType, "l2_normalize")

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = arr.getDouble(i); s += v * v; i += 1 }
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    if (norm != 0.0) {
      i = 0
      while (i < n) { out(i) = arr.getDouble(i) / norm; i += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2Normalize", this, classOf[L2Normalize].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a double vector in one pass:
  * scale = 127 / max|x| (0 for the zero vector), qᵢ = ⌊xᵢ·scale + 0.5⌋.
  * Floor-based rounding (not banker's) because `floor` is exact and
  * identical on every engine, so the quantized codes are
  * cross-engine-deterministic. Emitted as array<int>; the matching
  * scale for dequantization is `Embeddings.quantScale` (same max|x|
  * formula as a plain Column so it stays engine-portable).
  */
case class QuantizeI8(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, DoubleType, "quantize_i8")

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var m = 0.0
    var i = 0
    while (i < n) { val a = math.abs(arr.getDouble(i)); if (a > m) m = a; i += 1 }
    val s = if (m == 0.0) 0.0 else 127.0 / m
    val out = new Array[Int](n)
    i = 0
    while (i < n) { out(i) = math.floor(arr.getDouble(i) * s + 0.5).toInt; i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quantizeI8", this, classOf[QuantizeI8].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

/** Per-document shingle-multiplicity statistics in ONE native pass:
  * (n_shingles, n_distinct, max_repeat) over token n-gram shingles.
  *
  * Same FNV shingle-hash contract as [[ShingleSet]], but multiplicities
  * are kept: hash all shingles, sort, then run-scan the sorted array —
  * O(L log L) row-local, zero allocation beyond the hash buffer. This
  * replaces the explode → groupBy(doc, hash) → groupBy(doc) pipeline,
  * whose shuffle volume is EVERY SHINGLE OCCURRENCE in the corpus —
  * per-doc statistics never needed a shuffle at all (cf. reference
  * profiler-style per-chunk stats, laygo transformer.py:428 reduce).
  */
case class ShingleStats(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_repeat", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, StringType, "shingle_stats")

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target. */
  def compute(arr: ArrayData): InternalRow = {
    val m = arr.numElements()
    // zero tokens -> one whole-doc empty shingle (matches
    // TextAnalysis.shingles and the oracle's [''])
    if (m == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](1L, 1L, 1L, 1L))
    val tokenBytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      val u = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      tokenBytes(i) = if (u == null) Array.emptyByteArray else u.getBytes
      i += 1
    }
    val count = if (m >= n) m - n + 1 else 1
    val width = if (m >= n) n else m
    val hs = new Array[Long](count)
    var w = 0
    while (w < count) {
      var h = Fnv.Offset
      var t = 0
      while (t < width) {
        h = Fnv.mixBytes(h, tokenBytes(w + t))
        h = (h ^ 0x20L) * Fnv.Prime // token separator
        t += 1
      }
      hs(w) = h
      w += 1
    }
    java.util.Arrays.sort(hs)
    // run-scan: equal shingles are adjacent after the sort. sum_sq
    // (Σ run²) is the Simpson-diversity numerator — it rides along in
    // the same pass for free
    var distinct = 1L
    var maxRun = 1L
    var run = 1L
    var sumSq = 0L
    i = 1
    while (i < count) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > maxRun) maxRun = run }
      else { distinct += 1; sumSq += run * run; run = 1 }
      i += 1
    }
    sumSq += run * run
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](count.toLong, distinct, maxRun, sumSq))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleStats", this, classOf[ShingleStats].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleStats =
    copy(child = newChild)
}

/** array<string> of per-UTF-8-byte symbols for one word (the GPT-2
  * bytes-to-unicode construction): byte b → table(b), where `table`
  * is the fixed 256-entry bijection (TextAnalysis.byteToUnicode).
  * One pass over the word's bytes with the symbol UTF8Strings
  * pre-encoded once at plan construction — no hex dump, no regex,
  * no per-byte radix conversion.
  */
case class ByteSymbols(child: Expression, table: IndexedSeq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"byte_symbols requires string, got ${child.dataType.simpleString}")

  require(table.length == 256, "byte symbol table must have 256 entries")

  @transient private lazy val syms: Array[org.apache.spark.unsafe.types.UTF8String] =
    table.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Kernel body, also the codegen target (reference-object call). */
  def compute(word: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bs = word.getBytes
    val out = new Array[Any](bs.length)
    var i = 0
    while (i < bs.length) {
      out(i) = syms(bs(i) & 0xff)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteSymbols", this, classOf[ByteSymbols].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteSymbols =
    copy(child = newChild)
}

/** T5 span-corruption of one document in a single compiled pass —
  * the whole-row kernel behind `span_corrupt`. Replicates the
  * declarative formulation bit for bit (the DuckDB oracle replays
  * that form; CorpusSpec property-pins the two equal):
  *
  *   masked(i)  = pmod(pmod(pmod(id·1000003 + i−1, 2³¹−1)·48271
  *                  + seed, 2³¹−1), 1000) < permille     (1-based i)
  *   run-start  = masked(i) && !masked(i−1)
  *   corrupted  = join " " of [run-start → "<X>"; unmasked → token]
  *   target     = join " " of [run-start → "<X> "+token; masked → token]
  *
  * The declarative chain evaluates the 3-pmod Lehmer mask up to three
  * times per position inside interpreted (CodegenFallback) lambdas and
  * allocates a struct per position; this pass evaluates it once and
  * allocates only the output pieces. NULL array elements reproduce the
  * declarative's filter(isNotNull) behaviour: they are dropped from
  * both outputs (a run-start sentinel still prints to the corrupted
  * side — when(rs, "<X>") never saw the token) but keep their mask
  * state for run detection and n_masked.
  */
case class SpanCorruptExpr(
    left: Expression, right: Expression, permille: Int, seed: Long)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_masked", LongType, nullable = false),
    StructField("corrupted_text", StringType, nullable = false),
    StructField("target_text", StringType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"span_corrupt requires a long id, got ${left.dataType.simpleString}")
    else ExprChecks.requireArray(right.dataType, StringType, "span_corrupt")

  protected override def nullSafeEval(idAny: Any, toksAny: Any): Any =
    compute(idAny.asInstanceOf[Long], toksAny.asInstanceOf[ArrayData])

  private final val Mod = 2147483647L
  private val sentinel =
    org.apache.spark.unsafe.types.UTF8String.fromString("<X>")
  private val sentinelSp =
    org.apache.spark.unsafe.types.UTF8String.fromString("<X> ")
  private val space =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Kernel body, also the codegen target (reference-object call). */
  def compute(id: Long, toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val corrupted =
      new scala.collection.mutable.ArrayBuffer[org.apache.spark.unsafe.types.UTF8String](n)
    val target =
      new scala.collection.mutable.ArrayBuffer[org.apache.spark.unsafe.types.UTF8String](n)
    var nMasked = 0L
    var prevMasked = false
    var i = 1
    while (i <= n) {
      // same wrap-on-overflow long arithmetic as the Column form
      // (non-ANSI `*`/`+` wrap; pmod == floorMod for a positive mod)
      val s1 = java.lang.Math.floorMod(id * 1000003L + (i - 1L), Mod)
      val m = java.lang.Math.floorMod(
        java.lang.Math.floorMod(s1 * 48271L + seed, Mod), 1000L) < permille.toLong
      val tok = if (toks.isNullAt(i - 1)) null else toks.getUTF8String(i - 1)
      if (m) {
        nMasked += 1
        if (!prevMasked) { // run start
          corrupted += sentinel
          if (tok != null)
            target += org.apache.spark.unsafe.types.UTF8String.concat(sentinelSp, tok)
        } else if (tok != null) target += tok
      } else if (tok != null) corrupted += tok
      prevMasked = m
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      n.toLong, nMasked,
      org.apache.spark.unsafe.types.UTF8String.concatWs(space, corrupted.toSeq: _*),
      org.apache.spark.unsafe.types.UTF8String.concatWs(space, target.toSeq: _*)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spanCorrupt", this, classOf[SpanCorruptExpr].getName)
    nullSafeCodeGen(ctx, ev, (idv, tv) =>
      s"${ev.value} = $ref.compute($idv, $tv);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SpanCorruptExpr =
    copy(left = l, right = r)
}

/** BPE-ish pre-tokenizer token count in one native UTF-8 byte scan:
  * the number of matches of `[a-z]+|[0-9]+|[^a-z0-9 ]` over the
  * (already lowercased) input — letter runs, digit runs, and every
  * other code point individually. Replaces regexp_extract_all, which
  * materializes every match as a string just to count them; this
  * counts continuation-byte-aware code points with zero allocation.
  * Feeds token-count stats and the global-quantile quality gate.
  */
case class BpeTokenCount(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_count requires string, got ${other.simpleString}")
    }

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Kernel body, also the codegen target. */
  def compute(u: org.apache.spark.unsafe.types.UTF8String): Int = {
    val bs = u.getBytes
    var count = 0
    var inLetter = false
    var inDigit = false
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      if ((b & 0xc0) == 0x80) {
        // UTF-8 continuation byte: part of a code point already counted
      } else if (b >= 'a' && b <= 'z') {
        if (!inLetter) count += 1
        inLetter = true; inDigit = false
      } else if (b >= '0' && b <= '9') {
        if (!inDigit) count += 1
        inDigit = true; inLetter = false
      } else if (b == ' ') {
        inLetter = false; inDigit = false
      } else {
        // any other code point (ASCII symbol, or the LEADING byte of a
        // multi-byte sequence) is one single-char token
        count += 1
        inLetter = false; inDigit = false
      }
      i += 1
    }
    count
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTokenCount", this, classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** Deterministic random-projection dimensionality reduction:
  * y_j = Σᵢ vᵢ·w(i,j) with pseudo-random weights
  * w(i,j) = ((i·outDims + j)·48271 + seed) mod (2³¹−1) / (2³¹−1) − 0.5
  * — the Johnson-Lindenstrauss shrink step before ANN/LSH at scale
  * (project 4096-dim embeddings to 64 before bucketing). The weight
  * matrix is arithmetic, not data: nothing is broadcast, nothing is
  * stored, any engine regenerates it bit-identically (Lehmer-style
  * integers stay in 62 bits; contrast SplitMix64, whose wrapping
  * 64-bit multiply plain SQL cannot express). Sequential-i summation
  * order keeps results bit-equal across engines.
  */
case class RandomProject(child: Expression, outDims: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, DoubleType, "random_project")

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Double](outDims)
    val P = 2147483647L
    var i = 0
    while (i < n) {
      val v = arr.getDouble(i)
      val base = i.toLong * outDims
      var j = 0
      while (j < outDims) {
        val w = java.lang.Math.floorMod((base + j) * 48271L + seed, P).toDouble / P - 0.5
        out(j) += v * w
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("randomProject", this, classOf[RandomProject].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RandomProject =
    copy(child = newChild)
}

/** Bloom-bitmap membership probe: k Kirsch-Mitzenmacher positions
  * (pos_i = h1 + i·h2 mod mBits) tested against a bitmap held ONCE as
  * a codegen reference object. The alternative — k element_at probes
  * against a `typedLit` array — embeds k copies of the full bitmap in
  * the plan (k·mBits/8 bytes of duplicated literal for every probe
  * site), while a higher-order-function rewrite that shares one
  * literal falls out of whole-stage codegen. This expression keeps
  * both: one bitmap copy, inline compiled probe loop at scan speed.
  *
  * h1/h2 arrive pre-masked to 31 bits (see Curation.bloomPos), so
  * h1 + i·h2 cannot overflow a long and floorMod matches pmod.
  */
case class BloomProbe(left: Expression, right: Expression, bits: Array[Long], k: Int)
    extends BinaryExpression {

  private val mBits: Long = bits.length.toLong * 64L

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_probe requires (bigint, bigint), got $other")
    }

  protected override def nullSafeEval(h1: Any, h2: Any): Any =
    compute(h1.asInstanceOf[Long], h2.asInstanceOf[Long])

  /** Kernel body, also the codegen target (primitive boolean). */
  def compute(h1: Long, h2: Long): Boolean = {
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i.toLong * h2, mBits)
      if (((bits((pos >>> 6).toInt) >>> (pos & 63L).toInt) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this, classOf[BloomProbe].getName)
    nullSafeCodeGen(ctx, ev, (h1, h2) =>
      s"${ev.value} = $ref.compute($h1, $h2);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomProbe =
    copy(left = l, right = r)
}

/** A bisecting tree's per-level child centroids as flat arrays — the
  * broadcast value [[TreeDescend]] walks. Level `l` split the nodes
  * `node(levelStart(l) until levelStart(l + 1))` (ascending); split
  * node `j` has the kids `kidStart(j) until kidStart(j + 1)`, and kid
  * `c` is child `child(c)` (its id is 2·node + child) with centroid
  * `cent(centStart(c) until centStart(c + 1))`, or NULL when
  * `centNull(c)`. `centNorm(c)` is the centroid's squared norm,
  * summed in the same sequential order as [[DotProduct]].
  */
final class FlatTree private (
    val levelStart: Array[Int],
    val node: Array[Long],
    val kidStart: Array[Int],
    val child: Array[Int],
    val centStart: Array[Int],
    val cent: Array[Double],
    val centNull: Array[Boolean]) extends Serializable {

  val centNorm: Array[Double] = Array.tabulate(child.length) { c =>
    var s = 0.0
    var i = centStart(c)
    while (i < centStart(c + 1)) { s += cent(i) * cent(i); i += 1 }
    s
  }

  def levels: Int = levelStart.length - 1

  /** Index of `n` among level `l`'s split nodes, or -1 when level `l`
    * did not split it.
    */
  def find(l: Int, n: Long): Int = {
    val j = java.util.Arrays.binarySearch(node, levelStart(l), levelStart(l + 1), n)
    if (j >= 0) j else -1
  }
}

object FlatTree {
  /** From per-level (node, kids) rows; a kid is (child, centroid or
    * null). Row and kid order within a level do not matter.
    */
  def apply(levels: Seq[Seq[(Long, Seq[(Int, Array[Double])])]]): FlatTree = {
    val rows = levels.map(_.sortBy(_._1))
    val nodes = rows.flatten
    val kids = nodes.flatMap(_._2)
    val cents = kids.map(k => Option(k._2).getOrElse(Array.empty[Double]))
    new FlatTree(
      rows.scanLeft(0)(_ + _.size).toArray,
      nodes.map(_._1).toArray,
      nodes.scanLeft(0)(_ + _._2.size).toArray,
      kids.map(_._1).toArray,
      cents.scanLeft(0)(_ + _.length).toArray,
      cents.flatten.toArray,
      kids.map(_._2 == null).toArray)
  }
}

/** The whole masked beam descent of one query vector through a
  * broadcast [[FlatTree]], as one row-local expression: the query
  * starts at the root (node 1, score 1.0, every width's bit set in
  * its mask `pm`); per level, every beam node the level split is
  * replaced by its kids (id 2·node + child, score = cosine to the kid
  * centroid, parent's mask) and every other node passes through with
  * its carried score; candidates are ordered by score descending
  * (Spark's double order, NULL last) then node ascending, and a
  * candidate keeps width p's bit iff its parent had it and fewer than
  * p earlier candidates have it. Candidates with an empty mask drop.
  * With one width this is the top-p beam; with several (distinct
  * powers of two, the widths themselves being the bits) every width's
  * own beam is carried at once. Emits the final beam as
  * array<struct<cell_id, sc, pm>>.
  *
  * Bit-identical to the declarative per-level loop
  * (Similarity.treeDescendDeclarative, property-pinned): the cosine
  * is dot(q, c) / sqrt(|q|²·|c|²) with [[DotProduct]]'s sequential
  * sums, and a zero divisor scores NULL in either ANSI mode, as
  * `Similarity.cosineOf` does; a NULL query vector scores NULL.
  * The tree travels once per executor as a broadcast, so a descent
  * needs no join, window, shuffle or checkpoint per level.
  */
case class TreeDescend(
    child: Expression,
    tree: org.apache.spark.broadcast.Broadcast[FlatTree],
    widths: Seq[Int])
    extends UnaryExpression {

  require(widths.nonEmpty && widths.forall(_ > 0) && (widths.size == 1 ||
    (widths.forall(p => (p & (p - 1)) == 0) && widths.distinct.size == widths.size)),
    "beam widths must be one positive width or distinct powers of two")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cell_id", LongType, nullable = false),
    StructField("sc", DoubleType, nullable = true),
    StructField("pm", IntegerType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprChecks.requireArray(child.dataType, DoubleType, "tree_descend")

  override def toString: String =
    s"tree_descend($child, ${tree.id}, ${widths.mkString("[", ",", "]")})"

  private val ws = widths.toArray

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  /** Kernel body, also the codegen target (reference-object call). */
  def compute(qv: ArrayData): ArrayData = {
    val t = tree.value
    val qn = if (qv == null) 0.0 else dot(qv, t, -1)
    var bNode = Array(1L)
    var bSc = Array(1.0)
    var bNull = Array(false)
    var bPm = Array(ws.sum)
    var l = 0
    while (l < t.levels) {
      val at = bNode.map(t.find(l, _))
      var m = 0
      var i = 0
      while (i < at.length) {
        m += (if (at(i) < 0) 1 else t.kidStart(at(i) + 1) - t.kidStart(at(i)))
        i += 1
      }
      val cNode = new Array[Long](m)
      val cSc = new Array[Double](m)
      val cNull = new Array[Boolean](m)
      val cPm = new Array[Int](m)
      var o = 0
      i = 0
      while (i < at.length) {
        if (at(i) < 0) { // not split at this level: pass through
          cNode(o) = bNode(i); cSc(o) = bSc(i); cNull(o) = bNull(i); cPm(o) = bPm(i)
          o += 1
        } else {
          var c = t.kidStart(at(i))
          while (c < t.kidStart(at(i) + 1)) {
            cNode(o) = bNode(i) * 2L + t.child(c)
            cPm(o) = bPm(i)
            if (qv == null || t.centNull(c)) cNull(o) = true
            else {
              val d = java.lang.Math.sqrt(qn * t.centNorm(c))
              if (d == 0.0) cNull(o) = true
              else cSc(o) = dot(qv, t, c) / d
            }
            o += 1
            c += 1
          }
        }
        i += 1
      }
      val order = Array.tabulate[Integer](m)(Int.box)
      java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
        val r =
          if (cNull(a)) { if (cNull(b)) 0 else 1 }
          else if (cNull(b)) -1
          else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(cSc(b), cSc(a))
        if (r != 0) r else java.lang.Long.compare(cNode(a), cNode(b))
      })
      // `seen(w)`: earlier candidates whose parent mask has width w
      val seen = new Array[Int](ws.length)
      val keep = new Array[Int](m)
      var kept = 0
      var r = 0
      while (r < m) {
        val c = order(r).intValue
        var pm = 0
        var w = 0
        while (w < ws.length) {
          if ((cPm(c) & ws(w)) != 0) {
            if (seen(w) < ws(w)) pm += ws(w)
            seen(w) += 1
          }
          w += 1
        }
        if (pm != 0) { cPm(c) = pm; keep(kept) = c; kept += 1 }
        r += 1
      }
      bNode = Array.tabulate(kept)(j => cNode(keep(j)))
      bSc = Array.tabulate(kept)(j => cSc(keep(j)))
      bNull = Array.tabulate(kept)(j => cNull(keep(j)))
      bPm = Array.tabulate(kept)(j => cPm(keep(j)))
      l += 1
    }
    new GenericArrayData(Array.tabulate[Any](bNode.length)(j =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
        bNode(j), if (bNull(j)) null else bSc(j), bPm(j)))))
  }

  /** Sequential dot of `qv` with kid `c`'s centroid (c = -1: with
    * itself), over the shorter length, as [[DotProduct]] sums it.
    */
  private def dot(qv: ArrayData, t: FlatTree, c: Int): Double = {
    val n = if (c < 0) qv.numElements()
      else java.lang.Math.min(qv.numElements(), t.centStart(c + 1) - t.centStart(c))
    var s = 0.0
    var i = 0
    while (i < n) {
      s += qv.getDouble(i) * (if (c < 0) qv.getDouble(i) else t.cent(t.centStart(c) + i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("treeDescend", this, classOf[TreeDescend].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $ref.compute(${c.isNull} ? null : ${c.value});
      |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TreeDescend =
    copy(child = newChild)
}
