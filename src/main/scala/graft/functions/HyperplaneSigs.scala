package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** hyperplane_sigs(v): ALL random-hyperplane LSH bucket ids of a vector in
  * one expression — sig[t] = Σ_b (v·plane[t][b] > 0) << b.
  *
  * The naive formulation (L·B separate `when(dot(v, lit(plane)) > 0, …)`
  * column trees) generates hundreds of inlined loops: janino spends
  * SECONDS compiling them, and because attribute ids differ per plan
  * build, the codegen cache misses on every query construction — the
  * compile cost is paid every run (measured 5.4 s of the bucketed embed
  * dedup's 10 s at sf0.1). Here the plane matrix lives in the codegen
  * `references` array — the generated source is identical across plans,
  * so it compiles ONCE per JVM — and the whole signature is one tight
  * triple loop.
  *
  * Layout: `planes` is row-major [tables][bits][dim] flattened; output is
  * array<int> of length `tables` (bucket id per table).
  */
case class HyperplaneSigs(child: Expression, planes: Array[Double],
    tables: Int, bits: Int, dim: Int)
  extends UnaryExpression {

  require(planes.length == tables * bits * dim,
    s"plane matrix ${planes.length} != $tables*$bits*$dim")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (VectorCodegen.isVector(child.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sigs expects array<float|double> input, got ${child.dataType}")

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = math.min(dim, v.numElements())
    // Hoist the vector into a primitive local ONCE: the L·B plane dots
    // otherwise re-read every element through the ArrayData accessor
    // (offset arithmetic + bounds handling per element, L·B·dim times per
    // row — 1.6M accessor calls at the hi768 plan), and the pure
    // double[]·double[] inner loop is what the JIT auto-vectorizes.
    val vv = new Array[Double](n)
    var j = 0
    while (j < n) {
      vv(j) = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
      j += 1
    }
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var acc = 0
      var b = 0
      // 4 planes per pass, one independent accumulator each (GEMV
      // register blocking): a single-scalar dot is a loop-carried FP
      // dependency chain the JIT may not reorder (Java floating-point
      // addition is order-strict), so it runs FMA-latency-bound —
      // measured 18.6 s of the hi768 100× query's 41 s. Four chains
      // hide the latency and share each vv(i) load. Each plane's OWN
      // summation order is unchanged (i ascending), so every signature
      // is bit-identical to the scalar kernel's.
      while (b + 3 < bits) {
        val off = (t * bits + b) * dim
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        while (i < n) {
          val v = vv(i)
          s0 += planes(off + i) * v
          s1 += planes(off + dim + i) * v
          s2 += planes(off + 2 * dim + i) * v
          s3 += planes(off + 3 * dim + i) * v
          i += 1
        }
        if (s0 > 0) acc |= (1 << b)
        if (s1 > 0) acc |= (1 << (b + 1))
        if (s2 > 0) acc |= (1 << (b + 2))
        if (s3 > 0) acc |= (1 << (b + 3))
        b += 4
      }
      while (b < bits) {
        val off = (t * bits + b) * dim
        var s = 0.0
        var i = 0
        while (i < n) {
          s += planes(off + i) * vv(i)
          i += 1
        }
        if (s > 0) acc |= (1 << b)
        b += 1
      }
      out(t) = acc
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pl = ctx.addReferenceObj("hplanes", planes, "double[]")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s0 = ctx.freshName("s0")
      val s1 = ctx.freshName("s1")
      val s2 = ctx.freshName("s2")
      val s3 = ctx.freshName("s3")
      val sr = ctx.freshName("sr")
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      val vv = ctx.freshName("vv")
      val v = ctx.freshName("v")
      // The vector is hoisted into a primitive local ONCE (see
      // nullSafeEval), and the plane loop is blocked 4-wide with one
      // independent accumulator per plane — the single-scalar dot is an
      // order-strict FP dependency chain and runs FMA-latency-bound
      // (the nullSafeEval comment has the measurement). Summation order
      // per plane is unchanged: signatures are bit-identical.
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |double[] $vv = new double[$n];
         |for (int $j = 0; $j < $n; $j++) {
         |  $vv[$j] = (double) ${VectorCodegen.elemGet(child.dataType, a, j)};
         |}
         |int[] $out = new int[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $acc = 0;
         |  int $b = 0;
         |  for (; $b + 3 < $bits; $b += 4) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $s0 = 0.0, $s1 = 0.0, $s2 = 0.0, $s3 = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $v = $vv[$i];
         |      $s0 += $pl[$off + $i] * $v;
         |      $s1 += $pl[$off + $dim + $i] * $v;
         |      $s2 += $pl[$off + 2 * $dim + $i] * $v;
         |      $s3 += $pl[$off + 3 * $dim + $i] * $v;
         |    }
         |    if ($s0 > 0) $acc |= (1 << $b);
         |    if ($s1 > 0) $acc |= (1 << ($b + 1));
         |    if ($s2 > 0) $acc |= (1 << ($b + 2));
         |    if ($s3 > 0) $acc |= (1 << ($b + 3));
         |  }
         |  for (; $b < $bits; $b++) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $sr = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $sr += $pl[$off + $i] * $vv[$i];
         |    }
         |    if ($sr > 0) $acc |= (1 << $b);
         |  }
         |  $out[$t] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** probe_buckets(sig): every multiprobe bucket key within hamming ≤ `depth`
  * of each table's signature, as one array<long> of (table << 32 | bucket)
  * — the query-side companion of [[HyperplaneSigs]].
  *
  * Why an expression and not a column forest: at `bits` = B the probe set
  * is 1 + B + B(B−1)/2 keys per table (211 at B = 20, ×L tables) — as
  * `struct(...)` columns that is thousands of codegen'd expression trees
  * (the compile-time trap the sigs Scaladoc documents), but as ONE
  * expression it is nested constant-size generated loops, identical source
  * across plans, compiled once per JVM. The right depth DEPENDS on B and
  * the neighbor regime: a true neighbor at angle-similarity p lands within
  * hamming d of the query in a table with probability
  * P₁ = Σ_{i≤d} C(B,i)·p^{B−i}(1−p)^i, and the L-table miss rate (1−P₁)^L
  * decays fast for near-dup-grade p ≥ 0.8 but grows with B for top-k-grade
  * p ≈ 0.6 (expected hamming is B·(1−p), linear in B — RECALL_r10 measured
  * depth-2 recall decaying 0.995 → 0.845 over a 10× corpus). Depth is
  * therefore a caller decision: dedup paths fix d = 1–2; ann_lsh derives
  * (L, d) per build from exact calibration pairs (Similarity.calibratedLsh).
  */
case class ProbeBuckets(child: Expression, tables: Int, bits: Int, depth: Int,
    directional: Boolean = false)
  extends UnaryExpression {

  require(depth >= 0 && depth <= 3, s"probe depth $depth not in [0, 3]")
  require(bits >= 1 && bits <= 31,
    s"probe bits $bits not in [1, 31] (bucket ids are int-typed sign masks; " +
      "bits > 31 would silently wrap 1 << b, bits <= 0 yields empty probe loops)")
  require(!directional || depth <= 1,
    "directional probing is a hamming-1 self-join construction (depth <= 1)")

  private val perTable = 1 + (if (depth >= 1) bits else 0) +
    (if (depth >= 2) bits * (bits - 1) / 2 else 0) +
    (if (depth >= 3) bits * (bits - 1) * (bits - 2) / 6 else 0)

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"probe_buckets expects array<int> signatures, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val sig = a.asInstanceOf[ArrayData]
    val out = new Array[Long](tables * perTable)
    var idx = 0
    var t = 0
    while (t < tables) {
      val base = sig.getInt(t)
      val tb = t.toLong << 32
      out(idx) = tb | (base & 0xFFFFFFFFL); idx += 1
      if (depth >= 1) {
        var b1 = 0
        while (b1 < bits) {
          // Directional (self-join) mode: flip only 0→1. A hamming-1 pair
          // differs at one position where exactly one side holds a 0 —
          // that side's flip lands on the other's base key, so each pair
          // is generated exactly once (see Dedup.embedFunnel).
          if (!directional || (base & (1 << b1)) == 0) {
            out(idx) = tb | ((base ^ (1 << b1)) & 0xFFFFFFFFL); idx += 1
          }
          if (depth >= 2) {
            var b2 = b1 + 1
            while (b2 < bits) {
              out(idx) = tb | ((base ^ (1 << b1) ^ (1 << b2)) & 0xFFFFFFFFL); idx += 1
              if (depth >= 3) {
                var b3 = b2 + 1
                while (b3 < bits) {
                  out(idx) = tb | ((base ^ (1 << b1) ^ (1 << b2) ^ (1 << b3)) & 0xFFFFFFFFL)
                  idx += 1
                  b3 += 1
                }
              }
              b2 += 1
            }
          }
          b1 += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (idx == out.length) out else java.util.Arrays.copyOf(out, idx))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val idx = ctx.freshName("idx")
      val t = ctx.freshName("t")
      val b1 = ctx.freshName("b1")
      val b2 = ctx.freshName("b2")
      val b3 = ctx.freshName("b3")
      val base = ctx.freshName("base")
      val tb = ctx.freshName("tb")
      val d1 = if (depth >= 1) "true" else "false"
      val d2 = if (depth >= 2) "true" else "false"
      val d3 = if (depth >= 3) "true" else "false"
      val dir = if (directional) "true" else "false"
      s"""
         |long[] $out = new long[${tables * perTable}];
         |int $idx = 0;
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $base = $a.getInt($t);
         |  long $tb = ((long) $t) << 32;
         |  $out[$idx++] = $tb | ($base & 0xFFFFFFFFL);
         |  if ($d1) {
         |    for (int $b1 = 0; $b1 < $bits; $b1++) {
         |      if (!$dir || ($base & (1 << $b1)) == 0) {
         |        $out[$idx++] = $tb | (($base ^ (1 << $b1)) & 0xFFFFFFFFL);
         |      }
         |      if ($d2) {
         |        for (int $b2 = $b1 + 1; $b2 < $bits; $b2++) {
         |          $out[$idx++] = $tb | (($base ^ (1 << $b1) ^ (1 << $b2)) & 0xFFFFFFFFL);
         |          if ($d3) {
         |            for (int $b3 = $b2 + 1; $b3 < $bits; $b3++) {
         |              $out[$idx++] = $tb | (($base ^ (1 << $b1) ^ (1 << $b2) ^ (1 << $b3)) & 0xFFFFFFFFL);
         |            }
         |          }
         |        }
         |      }
         |    }
         |  }
         |}
         |if ($idx != $out.length) $out = java.util.Arrays.copyOf($out, $idx);
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSigs {
  import org.apache.spark.sql.functions._

  /** Column form of [[ProbeBuckets]]: array<long> of (tbl << 32 | bkt)
    * probe keys within hamming ≤ depth, per table. Decode with
    * `(x >> 32)` and `(x & 0xFFFFFFFF)`.
    */
  def probeBuckets(sig: Column, tables: Int, bits: Int, depth: Int,
      directional: Boolean = false): Column =
    ExpressionUtils.column(
      ProbeBuckets(ExpressionUtils.expression(sig), tables, bits, depth, directional))

  /** Column form; `planes` row-major [tables][bits][dim] flattened. */
  def sigs(v: Column, planes: Array[Double], tables: Int, bits: Int, dim: Int): Column =
    ExpressionUtils.column(
      HyperplaneSigs(ExpressionUtils.expression(v), planes, tables, bits, dim))

  /** Occupancy-derived bit width: B = ⌈log₂(n / targetBucket)⌉ clamped to
    * [4, maxBits] — shared by every LSH consumer so a tuning change can't
    * silently diverge the ann and dedup paths.
    */
  def bitsFor(n: Long, targetBucket: Int, maxBits: Int): Int =
    math.min(maxBits, math.max(4,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))

  /** Flatten the seeded [maxTables][maxBits][dim] plane tensor to the
    * row-major window actually used by a (tables, bits) configuration.
    */
  def flatten(planes: Array[Array[Array[Double]]],
      tables: Int, bits: Int, dim: Int): Array[Double] = {
    val out = new Array[Double](tables * bits * dim)
    var idx = 0
    for (t <- 0 until tables; b <- 0 until bits; i <- 0 until dim) {
      out(idx) = planes(t)(b)(i); idx += 1
    }
    out
  }
}
