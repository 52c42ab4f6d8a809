package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Round-21 native kernels for the dedup/PQ hot paths.
  *
  * The existing higher-order-function formulations (`transform` over a
  * shingle `sequence`, 8 × `array_min(transform(...))` minhashes,
  * `zip_with`+`aggregate` L2) are correct but interpreted: Catalyst
  * evaluates HOF lambda bodies per element outside whole-stage codegen,
  * with boxing per element. At sf0.1 the minhash signature pass alone
  * measured 1.34 s single-threaded. These expressions run the identical
  * math as one compiled pass per row (a static `KernelOps` call emitted
  * into the generated code, so the surrounding projection stays inside
  * WholeStageCodegen) and are pinned BIT-IDENTICAL to the HOF
  * formulations by KernelExpressionsSpec (the [[VectorOps]] native-vs-HOF
  * pattern).
  */
object KernelOps {

  /** The 8 MinHash values of a token array's 3-gram shingles — the fused
    * equivalent of `shingles → tokHash/prodTokHash per shingle →
    * 8 × minhash` ([[graft.ops.Dedup]]). Returns null when fewer than 3
    * tokens (mirrors the HOF chain, whose `array_min` over an empty
    * transform yields null minhashes; every caller filters `size ≥ 3`).
    *
    * Portable path bit-exactness: `tokHash` is
    * `ascii(substr(s,1,1))·961 + ascii(substr(s,2,1))·31 +
    * ascii(substr(s,3,1)) + length(s)·7919` over the shingle string
    * `tᵢ ⧺ " " ⧺ tᵢ₊₁ ⧺ " " ⧺ tᵢ₊₂`. Spark's `Ascii` is
    * `substring(0,1).toString.codePointAt(0)` (0 on empty) and
    * `Length`/`Substring` count codepoints, so the probes are the first
    * three CODEPOINTS of the virtual concatenation and the length is
    * `Σ numChars + 2` — computed here without materializing the shingle
    * string. The sum wraps in 32-bit int before the long cast, exactly
    * like the Column formulation. Minhash is `(h·(2j+3) + 97j+11) % P`
    * in long arithmetic (Java remainder).
    *
    * Production path (`portable = false`): `pmod(xxhash64(shingle), 2³¹−1)`
    * then `pmod(h·a + b, 2³¹−1)` — the shingle bytes are assembled into a
    * scratch buffer and hashed with the same XXH64(seed=42) Spark's
    * `xxhash64` uses. */
  def shingleMinhashes(tokens: ArrayData, portable: Boolean): Array[Long] = {
    val n = tokens.numElements()
    if (n < 3) return null
    val P = graft.ops.Dedup.P
    val ProdP = graft.ops.Dedup.ProdP
    val mins = Array.fill(8)(Long.MaxValue)
    // per-permutation params (2j+3, 97j+11), inlined below
    if (portable) {
      // precompute per token: numChars and first ≤3 codepoints
      val lens = new Array[Int](n)
      val cp0 = new Array[Int](n)
      val cp1 = new Array[Int](n)
      val cp2 = new Array[Int](n)
      val cpn = new Array[Int](n)
      var i = 0
      while (i < n) {
        val s = tokens.getUTF8String(i)
        if (s == null) {
          // concat_ws skips null tokens AND their separators — mark with a
          // -1 length sentinel, contribute no codepoints (round-22 ADVICE
          // null-element hardening)
          lens(i) = -1
          cpn(i) = 0
        } else {
          lens(i) = s.numChars()
          val str = s.toString
          var ci = 0
          var k = 0
          while (ci < str.length && k < 3) {
            val cp = str.codePointAt(ci)
            k match {
              case 0 => cp0(i) = cp
              case 1 => cp1(i) = cp
              case 2 => cp2(i) = cp
            }
            ci += Character.charCount(cp)
            k += 1
          }
          cpn(i) = k
        }
        i += 1
      }
      // walk each window's first 3 codepoints over the virtual
      // t0 ⧺ ' ' ⧺ t1 ⧺ ' ' ⧺ t2 sequence
      var w = 0
      while (w <= n - 3) {
        var a1 = 0; var a2 = 0; var a3 = 0
        var got = 0
        var t = 0
        var done = false
        var kept = 0
        var lenSum = 0
        while (t < 3) {
          val ti = w + t
          if (lens(ti) >= 0) { // null tokens (lens = -1) are skipped with
            kept += 1         // their separator, exactly like concat_ws
            lenSum += lens(ti)
            if (!done) {
              if (kept > 1) { // separator space before every kept-but-first
                got match {
                  case 0 => a1 = 32
                  case 1 => a2 = 32
                  case 2 => a3 = 32
                }
                got += 1
                if (got == 3) done = true
              }
              var k = 0
              while (k < cpn(ti) && !done) {
                val cp = k match {
                  case 0 => cp0(ti)
                  case 1 => cp1(ti)
                  case _ => cp2(ti)
                }
                got match {
                  case 0 => a1 = cp
                  case 1 => a2 = cp
                  case 2 => a3 = cp
                }
                got += 1
                if (got == 3) done = true
                k += 1
              }
            }
          }
          t += 1
        }
        // 32-bit wrap then widen — matches the int Column arithmetic
        val h: Long =
          (a1 * 961 + a2 * 31 + a3 + (lenSum + math.max(kept - 1, 0)) * 7919).toLong
        var j = 0
        while (j < 8) {
          val v = (h * (2 * j + 3) + (97 * j + 11)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        w += 1
      }
    } else {
      // production hash: xxhash64 over the concatenated shingle bytes
      var scratch = new Array[Byte](256)
      var w = 0
      while (w <= n - 3) {
        var len = 0
        var t = 0
        var emitted = false
        while (t < 3) {
          // concat_ws semantics: a null token is skipped ALONG WITH its
          // separator (round-22 ADVICE null-element hardening; the
          // engine's split()-derived inputs never carry one)
          val s = tokens.getUTF8String(w + t)
          if (s != null) {
            if (emitted) {
              if (len + 1 > scratch.length) scratch = grow(scratch, len + 1)
              scratch(len) = ' '.toByte
              len += 1
            }
            val sb = s.numBytes()
            if (len + sb > scratch.length) scratch = grow(scratch, len + sb)
            s.writeToMemory(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
            len += sb
            emitted = true
          }
          t += 1
        }
        val x = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
        val h = pmod(x, ProdP)
        var j = 0
        while (j < 8) {
          val v = pmod(h * (2 * j + 3) + (97 * j + 11), ProdP)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        w += 1
      }
    }
    mins
  }

  /** xxhash64(seed 42) of every n-token window (stride 1) — the fused
    * equivalent of `transform(shingles(tokens, n), w ⇒ xxhash64(w))`
    * without materializing the window strings: bytes are assembled into a
    * reusable scratch buffer per window and hashed with the same XXH64
    * Spark's `xxhash64` uses, so the values equal
    * `xxhash64(concat_ws(" ", slice(tokens, i, n)))` exactly. Null when
    * fewer than n tokens (callers filter `size ≥ n`). */
  def shingleHashes64(tokens: ArrayData, n: Int): Array[Long] = {
    val nt = tokens.numElements()
    if (nt < n) return null
    val out = new Array[Long](nt - n + 1)
    var scratch = new Array[Byte](512)
    var w = 0
    while (w <= nt - n) {
      var len = 0
      var t = 0
      var emitted = false
      while (t < n) {
        // concat_ws semantics: skip null tokens and their separators
        val s = tokens.getUTF8String(w + t)
        if (s != null) {
          if (emitted) {
            if (len + 1 > scratch.length) scratch = grow(scratch, len + 1)
            scratch(len) = ' '.toByte
            len += 1
          }
          val sb = s.numBytes()
          if (len + sb > scratch.length) scratch = grow(scratch, len + sb)
          s.writeToMemory(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
          len += sb
          emitted = true
        }
        t += 1
      }
      out(w) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      w += 1
    }
    out
  }

  /** [[shingleHashes64]] with a window STRIDE — the non-overlapping
    * window-hash shape of the boilerplate kernel: windows start at
    * 0, stride, 2·stride, … and the LAST window may be short (the
    * `slice(tokens, i·s+1, n)` tail behavior). ⌈nt/stride⌉ windows for
    * nt ≥ 1; null for empty arrays (callers filter `size ≥ 1`). */
  def strideWindowHashes64(tokens: ArrayData, n: Int, stride: Int): Array[Long] = {
    val nt = tokens.numElements()
    if (nt < 1) return null
    val nw = (nt + stride - 1) / stride
    val out = new Array[Long](nw)
    var scratch = new Array[Byte](512)
    var w = 0
    while (w < nw) {
      val start = w * stride
      val end = math.min(start + n, nt)
      var len = 0
      var t = start
      var emitted = false
      while (t < end) {
        // concat_ws semantics: skip null tokens and their separators
        val s = tokens.getUTF8String(t)
        if (s != null) {
          if (emitted) {
            if (len + 1 > scratch.length) scratch = grow(scratch, len + 1)
            scratch(len) = ' '.toByte
            len += 1
          }
          val sb = s.numBytes()
          if (len + sb > scratch.length) scratch = grow(scratch, len + sb)
          s.writeToMemory(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
          len += sb
          emitted = true
        }
        t += 1
      }
      out(w) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      w += 1
    }
    out
  }

  private def grow(b: Array[Byte], need: Int): Array[Byte] = {
    val nb = new Array[Byte](math.max(b.length * 2, need))
    System.arraycopy(b, 0, nb, 0, b.length)
    nb
  }

  private def pmod(a: Long, p: Long): Long = {
    val r = a % p
    if (r < 0) r + p else r
  }

  /** |A ∩ B| of two SORTED, DISTINCT string arrays via a linear merge.
    * Equal to `size(array_intersect(a, b))` on any distinct pair (set
    * cardinality is order-free); the sorted-input contract trades the
    * per-pair hash-set build (and the materialized intersection array)
    * for byte-compares with early exit — the verify-kernel shape for the
    * 100k-pair LSH verify stages. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val sa = a.getUTF8String(i)
      val sb = b.getUTF8String(j)
      // null elements sort FIRST under sort_array(asc) and array_intersect
      // matches null with null — mirror both instead of NPE-ing (round-22
      // ADVICE: the engine's inputs are split()-derived and never carry
      // null elements, but the kernel must not diverge from the HOF it
      // replaced if one ever appears)
      if (sa == null && sb == null) { c += 1; i += 1; j += 1 }
      else if (sa == null) i += 1
      else if (sb == null) j += 1
      else {
        val cmp = sa.compareTo(sb)
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  /** Element-order Σ(aᵢ−bᵢ)² over two double arrays — bit-identical to the
    * `aggregate(zip_with(a, b, (x,y) ⇒ (x−y)·(x−y)), 0.0, +)` left fold
    * (same IEEE op order). Length mismatch → NaN sentinel handled by the
    * expression (HOF zip_with pads null and the fold collapses to null). */
  def squaredL2(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Count of positions where tokens(i) = first ∧ tokens(i+1) = second —
    * the phrase-adjacency kernel, equal to
    * `size(filter(sequence(1, n−1), i ⇒ t[i]=f ∧ t[i+1]=s))` for n ≥ 2
    * and 0 below (callers filter `size ≥ 2`). */
  def adjacentPairCount(tokens: ArrayData, first: UTF8String,
      second: UTF8String): Long = {
    val n = tokens.numElements()
    var c = 0L
    var i = 0
    while (i < n - 1) {
      // a null token can never match (the HOF filter condition is null →
      // the row is dropped); guard instead of NPE-ing
      val a = tokens.getUTF8String(i)
      if (a != null && a.equals(first)) {
        val b = tokens.getUTF8String(i + 1)
        if (b != null && b.equals(second)) c += 1
      }
      i += 1
    }
    c
  }
}

/** See [[KernelOps.shingleMinhashes]]. Input `array<string>` tokens; output
  * `array<long>` of the 8 minhashes, null when the row has < 3 tokens. */
case class ShingleMinhashes(child: Expression, portable: Boolean)
  extends UnaryExpression {

  override def prettyName: String = "shingle_minhashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(tokens: Any): Any = {
    val r = KernelOps.shingleMinhashes(tokens.asInstanceOf[ArrayData], portable)
    if (r == null) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("mh")
      s"""
         |long[] $r = graft.functions.KernelOps.shingleMinhashes($a, $portable);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($r);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** See [[KernelOps.shingleHashes64]]. Input `array<string>` tokens; output
  * `array<long>` of per-window xxhash64 values, null below n tokens. */
case class ShingleHashes64(child: Expression, n: Int)
  extends UnaryExpression {

  override def prettyName: String = "shingle_hashes64"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(tokens: Any): Any = {
    val r = KernelOps.shingleHashes64(tokens.asInstanceOf[ArrayData], n)
    if (r == null) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("sh")
      s"""
         |long[] $r = graft.functions.KernelOps.shingleHashes64($a, $n);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($r);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** See [[KernelOps.strideWindowHashes64]] — the boilerplate
  * non-overlapping window-hash kernel. */
case class StrideWindowHashes64(child: Expression, n: Int, stride: Int)
  extends UnaryExpression {

  override def prettyName: String = "stride_window_hashes64"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(tokens: Any): Any = {
    val r = KernelOps.strideWindowHashes64(tokens.asInstanceOf[ArrayData], n, stride)
    if (r == null) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("wh")
      s"""
         |long[] $r = graft.functions.KernelOps.strideWindowHashes64($a, $n, $stride);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($r);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** See [[KernelOps.sortedIntersectSize]]. Both inputs MUST be sorted
  * ascending and element-distinct (the `sort_array(array_distinct(…))`
  * contract of [[graft.ops.Dedup.distinctShingles]]). */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "sorted_intersect_size"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    KernelOps.sortedIntersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.KernelOps.sortedIntersectSize($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Optimizer-visibility barrier: evaluates `child` unchanged but REPORTS
  * nondeterministic, so CollapseProject will not inline the aliased value
  * into every consumer and PushPredicateThroughNonJoin will not clone it
  * into a pushed filter (guide §4.4 — the `asNondeterministic` trick for
  * expensive kernels, as an expression wrapper). The child IS pure — the
  * flag only stops the optimizer from duplicating its evaluation; task
  * retries recompute identical values. Used where one expensive kernel
  * value feeds several projected columns AND a filter (the containment
  * verdicts: without the barrier the shared `_i` inlines into the pushed
  * gate and the kernel runs twice per candidate pair).
  *
  * Place it ONLY in a Project, Filter, Aggregate or Window: CheckAnalysis
  * rejects a nondeterministic expression anywhere else (join condition,
  * sort key, grouping key) with an analysis error far from this
  * definition. The flag also blocks every predicate/projection movement
  * around the wrapped value, not just the duplication it exists to stop. */
case class EvalOnce(child: Expression) extends UnaryExpression {

  override def prettyName: String = "eval_once"
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** See [[KernelOps.squaredL2]] — codegen'd Σ(aᵢ−bᵢ)² over `array<double>`,
  * null on length mismatch (the zip_with-pads-null collapse). */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "squared_l2"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else KernelOps.squaredL2(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.KernelOps.squaredL2($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** See [[KernelOps.adjacentPairCount]] — the q_phrase_match kernel. */
case class AdjacentPairCount(child: Expression, first: String, second: String)
  extends UnaryExpression {

  override def prettyName: String = "adjacent_pair_count"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  @transient private lazy val f = UTF8String.fromString(first)
  @transient private lazy val s = UTF8String.fromString(second)

  override def nullSafeEval(tokens: Any): Any =
    KernelOps.adjacentPairCount(tokens.asInstanceOf[ArrayData], f, s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("first", f, "org.apache.spark.unsafe.types.UTF8String")
    val sRef = ctx.addReferenceObj("second", s, "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.KernelOps.adjacentPairCount($a, $fRef, $sRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
