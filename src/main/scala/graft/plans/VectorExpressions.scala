package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Cosine similarity over two `array<float>` columns as a native Catalyst
  * expression with whole-stage codegen (SURVEY §4: vector ops must not fall
  * back to Scala UDFs — a UDF would box every element and break codegen in
  * the ANN hot path, which at 100 TB scans the full corpus per query).
  *
  * Accumulation is a single sequential double loop — deliberately identical
  * to the left-associative `a[1]*b[1] + a[2]*b[2] + …` chain the DuckDB
  * oracle evaluates, so results are bit-identical across engines.
  *
  * Semantics: cosine(a, b) over the common prefix length; 0.0 when either
  * norm is zero. Null input → null (standard null-intolerant binary op).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float>; enforced by usage (AbstractDataType is
  // private[sql], so ExpectsInputTypes can't be implemented outside spark)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two `array<float>` columns in sequential double
  * arithmetic (same accumulation order as [[CosineSim]]'s dot term, so
  * dot/(‖a‖·‖b‖) over precomputed norms is bit-identical to CosineSim).
  *
  * Exists so ANN plans can precompute each row's norm ONCE instead of
  * re-deriving both norms per scored pair — at corpus scale that deletes
  * two thirds of the similarity flops. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Leading-`nChars`-nibble value of a lowercase-hex string (md5 prefix →
  * long; nChars ≤ 15 keeps the value positive inside 63 bits so the same
  * arithmetic is expressible in every engine's signed BIGINT).
  *
  * The dedup family hashes every token/shingle through md5 and needs the
  * integer form for minwise/simhash arithmetic — per-token hot path at
  * corpus scale. A codegen'd byte loop replaces an 8-15× instr+substring
  * chain of built-ins (the DuckDB oracle keeps the portable nibble-chain
  * formulation; both compute Σ nibble(p)·16^(n-1-p) over the prefix).
  */
case class HexPrefix(child: Expression, nChars: Int) extends UnaryExpression {
  require(nChars > 0 && nChars <= 15, "hex prefix must fit a positive signed long")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hex_prefix"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var v = 0L
    var i = 0
    val n = math.min(bytes.length, nChars)
    while (i < n) {
      val c = bytes(i)
      val nib = if (c >= 'a') c - 'a' + 10 else c - '0'
      v = v * 16 + nib
      i += 1
    }
    v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes"); val v = ctx.freshName("v")
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val ch = ctx.freshName("ch")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $v = 0L;
         |int $n = java.lang.Math.min($bytes.length, $nChars);
         |for (int $i = 0; $i < $n; $i++) {
         |  byte $ch = $bytes[$i];
         |  $v = $v * 16 + ($ch >= 'a' ? $ch - 'a' + 10 : $ch - '0');
         |}
         |${ev.value} = $v;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of overlapping interval pairs between two `array<struct<s: long,
  * e: long>>` columns (inclusive `[s, e]`): |{(i,j) : a[i].s ≤ b[j].e AND
  * b[j].s ≤ a[i].e}|. PRECONDITION: the RIGHT array is sorted ascending by
  * `s` (the `sort_array(collect_list(...))` build order); left order is
  * irrelevant.
  *
  * Exists because the higher-order-function formulation —
  * `size(filter(flatten(transform(a, x -> transform(b, y -> ...)))))` —
  * materializes and lambda-evaluates all n·m pairs (~200 ns per lambda
  * eval measured in the r07 bench, 325 s for the one-phase multi-interval
  * join at sf0.1). This kernel is O(m log m + n log m): b's starts are
  * already sorted (binary-searchable), b's ends are sorted once per eval,
  * and each left interval contributes `#(b.s ≤ a.e) − #(b.e < a.s)`
  * (every b with b.e < a.s also satisfies b.s ≤ a.e, so the difference is
  * exactly the overlap count) — inside whole-stage codegen, no boxing. */
case class IntervalOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_interval_overlap_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    val bs = new Array[Long](m); val be = new Array[Long](m)
    var j = 0
    while (j < m) {
      val r = y.getStruct(j, 2)
      bs(j) = r.getLong(0); be(j) = r.getLong(1)
      j += 1
    }
    java.util.Arrays.sort(be)
    var cnt = 0L
    var i = 0
    while (i < n) {
      val ra = x.getStruct(i, 2)
      val as = ra.getLong(0); val ae = ra.getLong(1)
      var lo = 0; var hi = m
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (bs(mid) <= ae) lo = mid + 1 else hi = mid }
      val ub = lo
      lo = 0; hi = m
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (be(mid) < as) lo = mid + 1 else hi = mid }
      cnt += ub - lo
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val bs = ctx.freshName("bs"); val be = ctx.freshName("be")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val r = ctx.freshName("r"); val as = ctx.freshName("as"); val ae = ctx.freshName("ae")
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi"); val mid = ctx.freshName("mid")
      val ub = ctx.freshName("ub"); val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |long[] $bs = new long[$m]; long[] $be = new long[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  org.apache.spark.sql.catalyst.InternalRow $r = $b.getStruct($j, 2);
         |  $bs[$j] = $r.getLong(0); $be[$j] = $r.getLong(1);
         |}
         |java.util.Arrays.sort($be);
         |long $cnt = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.sql.catalyst.InternalRow $r = $a.getStruct($i, 2);
         |  long $as = $r.getLong(0); long $ae = $r.getLong(1);
         |  int $lo = 0; int $hi = $m;
         |  while ($lo < $hi) { int $mid = ($lo + $hi) >>> 1; if ($bs[$mid] <= $ae) $lo = $mid + 1; else $hi = $mid; }
         |  int $ub = $lo;
         |  $lo = 0; $hi = $m;
         |  while ($lo < $hi) { int $mid = ($lo + $hi) >>> 1; if ($be[$mid] < $as) $lo = $mid + 1; else $hi = $mid; }
         |  $cnt += $ub - $lo;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED-ascending `array<long>` SETS (distinct
  * elements — the `array_sort(array_distinct(...))` build order): a
  * two-pointer merge walk, O(n + m) per pair inside whole-stage codegen.
  *
  * The built-in `array_intersect` builds a hash set per evaluation and
  * boxes every element; on the dedup verify path (candidate pairs ×
  * hundreds of shingle hashes each) the merge walk over primitive longs
  * is the form that survives corpus scale. Jaccard follows in plain SQL:
  * inter / (n + m − inter). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { cnt += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $cnt = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $cnt++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sum of unsigned byte values over a slice of a binary column:
  * Σ (payload[i] & 0xff) for i in [start, min(start+len, length)) —
  * the media family's energy fold over opaque payloads.
  *
  * Exists because the higher-order-function formulation — hex() the
  * payload, transform(sequence(...)) with a conv(substring(...)) lambda
  * per byte, aggregate to sum — runs interpreted per element (measured
  * 28 s at sf1 for mm_phash_buckets, ~90 ns/byte); this kernel is the
  * same fold as a tight byte loop inside whole-stage codegen, and it
  * never materializes the 2× hex rendering at all. */
case class ByteSliceSum(bin: Expression, start: Expression, len: Expression)
    extends TernaryExpression {
  override def first: Expression = bin
  override def second: Expression = start
  override def third: Expression = len
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_byte_slice_sum"

  override def nullSafeEval(b: Any, s: Any, l: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    val from = math.max(s.asInstanceOf[Long], 0L).toInt
    val until = math.min(from.toLong + l.asInstanceOf[Long], bytes.length.toLong).toInt
    var acc = 0L
    var i = from
    while (i < until) { acc += bytes(i) & 0xff; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, s, l) => {
      val from = ctx.freshName("from"); val until = ctx.freshName("until")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      s"""
         |int $from = (int) java.lang.Math.max($s, 0L);
         |int $until = (int) java.lang.Math.min((long) $from + $l, (long) $b.length);
         |long $acc = 0L;
         |for (int $i = $from; $i < $until; $i++) { $acc += $b[$i] & 0xff; }
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(bin = newFirst, start = newSecond, len = newThird)
}

/** [[ByteSliceSum]]'s max twin: the largest unsigned byte in
  * `bin[start, start+len)` (0 on an empty/out-of-range slice) — the
  * per-frame PEAK of the audio-window ledger, read straight off the raw
  * binary with the same range clamp so hex never renders. */
case class ByteSliceMax(bin: Expression, start: Expression, len: Expression)
    extends TernaryExpression {
  override def first: Expression = bin
  override def second: Expression = start
  override def third: Expression = len
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_byte_slice_max"

  override def nullSafeEval(b: Any, s: Any, l: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    val from = math.max(s.asInstanceOf[Long], 0L).toInt
    val until = math.min(from.toLong + l.asInstanceOf[Long], bytes.length.toLong).toInt
    var acc = 0L
    var i = from
    while (i < until) { val v = (bytes(i) & 0xff).toLong; if (v > acc) acc = v; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, s, l) => {
      val from = ctx.freshName("from"); val until = ctx.freshName("until")
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      s"""
         |int $from = (int) java.lang.Math.max($s, 0L);
         |int $until = (int) java.lang.Math.min((long) $from + $l, (long) $b.length);
         |long $acc = 0L;
         |for (int $i = $from; $i < $until; $i++) {
         |  long v = $b[$i] & 0xff; if (v > $acc) $acc = v;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(bin = newFirst, start = newSecond, len = newThird)
}

/** All-centroid cosine fold: cosines of one `array<float>` embedding
  * against a BUILD-TIME-CONSTANT centroid matrix, returned as one
  * `array<double>` in centroid order.
  *
  * Exists because the composed formulation —
  * `array(cosine(emb, lit(c0)), cosine(emb, lit(c1)), …)` — grows an
  * expression tree linear in ncentroids that breaks whole-stage codegen
  * past a few dozen branches and then evaluates INTERPRETED with per-call
  * literal unboxing: measured 6.4 s for one 80-centroid assignment pass
  * over 20k vectors at sf1 (~4 µs/cosine) vs ~0.3 s for this kernel. The
  * k ∝ corpus harnesses (label noise, bitext mining, semantic dedup) make
  * ncentroids grow with the data, so the composed form's collapse is a
  * scale bug, not a constant.
  *
  * Per-centroid arithmetic is EXACTLY [[CosineSim]]'s (same loop, same
  * common-prefix rule, same zero-norm guard), so every argmax/tie result
  * is bit-identical to the composed form and to the DuckDB oracle chain.
  * The matrix rides the closure via codegen references — serialized once
  * per executor, never per row. */
case class CentroidCosines(child: Expression, matrix: Array[Array[Float]])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_centroid_cos"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val out = new Array[Double](matrix.length)
    var j = 0
    while (j < matrix.length) {
      val c = matrix(j)
      val n = math.min(x.numElements(), c.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = c(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      out(j) = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mat = ctx.addReferenceObj("centroidMatrix", matrix, "float[][]")
      val out = ctx.freshName("out"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |double[] $out = new double[$mat.length];
         |for (int $j = 0; $j < $mat.length; $j++) {
         |  float[] $c = $mat[$j];
         |  int $n = java.lang.Math.min($a.numElements(), $c.length);
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $c[$i];
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  $out[$j] = ($nx == 0.0 || $ny == 0.0)
         |    ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Idempotent per-session registration; queries call this so the
    * functions exist no matter which session (driver-created included)
    * runs them. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction("graft_cosine",
      exprs => CosineSim(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("graft_dot",
      exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("graft_hex_prefix",
      exprs => HexPrefix(exprs.head,
        exprs(1).eval().asInstanceOf[Int]), "built-in")
    registry.createOrReplaceTempFunction("graft_interval_overlap_count",
      exprs => IntervalOverlapCount(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("graft_sorted_intersect",
      exprs => SortedIntersectCount(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("graft_byte_slice_sum",
      exprs => ByteSliceSum(exprs.head, exprs(1), exprs(2)), "built-in")
    registry.createOrReplaceTempFunction("graft_byte_slice_max",
      exprs => ByteSliceMax(exprs.head, exprs(1), exprs(2)), "built-in")
    registry.createOrReplaceTempFunction("graft_centroid_cos",
      exprs => {
        val arr = exprs(1).eval().asInstanceOf[ArrayData]
        val mat = (0 until arr.numElements())
          .map(j => arr.getArray(j).toFloatArray()).toArray
        CentroidCosines(exprs.head, mat)
      }, "built-in")
  }

  /** Column-level handles (resolve through the function registry). */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  /** All-centroid cosine array — the matrix literal is folded into the
    * expression at registry-build time (the HexPrefix convention for
    * constructor constants). */
  def centroidCosines(emb: Column, cents: Seq[Array[Float]]): Column =
    call_function("graft_centroid_cos", emb,
      org.apache.spark.sql.functions.typedlit(cents.map(_.toSeq)))
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def intervalOverlapCount(a: Column, b: Column): Column =
    call_function("graft_interval_overlap_count", a, b)
  def sortedIntersect(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect", a, b)
  def hexPrefix(c: Column, nChars: Int): Column =
    call_function("graft_hex_prefix", c, org.apache.spark.sql.functions.lit(nChars))
  def byteSliceSum(bin: Column, start: Column, len: Column): Column =
    call_function("graft_byte_slice_sum", bin, start, len)
  def byteSliceMax(bin: Column, start: Column, len: Column): Column =
    call_function("graft_byte_slice_max", bin, start, len)
}
