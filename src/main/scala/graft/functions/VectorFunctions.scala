package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Low-alloc vector kernels shared by interpreted eval and generated
  * code. Operating on Catalyst ArrayData directly avoids the
  * per-row boxing a Scala UDF would pay — SURVEY.md §2.5 #46.
  */
object VectorOps {

  /** Cosine similarity over float vectors, accumulated in double in
    * index order (deterministic under any partitioning). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-zero ⇒ 1.0 (self-similarity convention: cosine(x, x) is
    // 1.0 for every x), zero vs non-zero ⇒ 0.0
    if (na == 0.0 && nb == 0.0) 1.0
    else if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** splitmix64 finalizer — public-domain bit mixer; drives the
    * deterministic ±1 hyperplane entries for LSH (no RNG state). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Random-hyperplane signature: bit b of the result is the sign of
    * <r_b, v> where r_b is a deterministic ±1 vector derived from
    * (seed, b, dim). nBits ≤ 64. Charikar (STOC'02) SimHash for
    * angular distance.
    */
  def hyperplaneSig(v: ArrayData, nBits: Int, seed: Long): Long = {
    val n = v.numElements()
    var sig = 0L
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val r = if ((mix64(seed * 0x9E3779B9L + b.toLong * 131071L + d) & 1L) == 0L) -1.0 else 1.0
        acc += r * v.getFloat(d)
        d += 1
      }
      if (acc >= 0.0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Codegen'd cosine similarity over two ArrayType(FloatType) columns.
  * Stays inside whole-stage codegen: the generated code is a single
  * static call on unboxed ArrayData.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps.cosineF($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

/** Codegen'd random-hyperplane LSH signature of a float vector —
  * the bucketing key for approximate nearest neighbor (SURVEY §2.3 #35).
  */
case class HyperplaneSignature(left: Expression, right: Expression, seed: Long)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any, bits: Any): Any =
    VectorOps.hyperplaneSig(v.asInstanceOf[ArrayData], bits.asInstanceOf[Int], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, bits) =>
      s"${ev.value} = graft.functions.VectorOps.hyperplaneSig($v, $bits, ${seed}L);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_hyperplane_sig"
}

/** PQ kernels (round 8): tight loops behind single-call codegen so the
  * PQ operators don't pay Janino compilation for deeply nested
  * transform/aggregate lambda trees (the first cut's dominant cost —
  * ~1 s of codegen per Lloyd round at bench scale).
  */
object PqOps {
  /** Nearest centroid id: cands = array<struct<cid int, cemb
    * array<float>>>; returns the cid minimizing squared L2, ties to
    * the smallest cid — the same (dist, cid) lexicographic minimum as
    * `array_min` over the struct. */
  def nearestCid(svec: org.apache.spark.sql.catalyst.util.ArrayData,
                 cands: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    var best = Int.MaxValue
    var bestD = Double.MaxValue
    val n = cands.numElements()
    val dim = svec.numElements()
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 2)
      val cid = row.getInt(0)
      val cemb = row.getArray(1)
      var d = 0.0
      var j = 0
      while (j < dim) {
        val diff = svec.getFloat(j) - cemb.getFloat(j)
        d += diff * diff
        j += 1
      }
      if (d < bestD || (d == bestD && cid < best)) { bestD = d; best = cid }
      i += 1
    }
    best
  }

  /** ADC distance: luts(sub)(code) summed over subspaces in fixed
    * ascending-sub order (deterministic FP fold). */
  def adcDist(codes: org.apache.spark.sql.catalyst.util.ArrayData,
              luts: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    var s = 0.0
    val m = codes.numElements()
    var i = 0
    while (i < m) {
      s += luts.getArray(i).getDouble(codes.getInt(i))
      i += 1
    }
    s
  }
}

/** IVF assignment kernel (round 17, guide §2.4 "remove shuffles
  * outright"): the coarse-quantizer argmax used to ride a
  * corpus×nCentroids crossJoin followed by a Window.partitionBy(vec_id)
  * — a full shuffle AND sort of nCentroids copies of the corpus per
  * assignment pass (and Lloyd training pays one per round). This
  * kernel folds the whole argmax into ONE narrow per-row call over a
  * broadcast candidate array: same cosine ([[VectorOps.cosineF]]),
  * same (sim desc, cid asc) winner as the window spelling, zero
  * exchanges on the corpus side.
  */
object IvfOps {
  /** cands = array<struct<cid int, cemb array<float>>>; returns
    * (cid, sim) of the max-cosine centroid, ties to the smallest cid —
    * exactly row_number over (sim desc, cid asc) = 1. */
  def nearestCosine(emb: ArrayData,
                    cands: ArrayData): InternalRow = {
    var bestCid = Int.MaxValue
    var bestSim = Double.NegativeInfinity
    val n = cands.numElements()
    var i = 0
    while (i < n) {
      val row = cands.getStruct(i, 2)
      val cid = row.getInt(0)
      val sim = VectorOps.cosineF(emb, row.getArray(1))
      // NaN guard (round-17 advisory): Spark's window ordering sorts
      // NaN as GREATEST, so a NaN sim must win over any non-NaN best
      // (and tie against another NaN on cid) — `sim > bestSim` alone
      // would never select it and the kernel could return the
      // nonexistent sentinel cid. Only reachable with NaN-valued
      // embeddings (cosineF guards zero norms).
      val take =
        if (java.lang.Double.isNaN(sim))
          !java.lang.Double.isNaN(bestSim) || cid < bestCid
        else
          !java.lang.Double.isNaN(bestSim) &&
            (sim > bestSim || (sim == bestSim && cid < bestCid))
      if (take) { bestSim = sim; bestCid = cid }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestSim))
  }
}

/** Codegen'd IVF cosine argmax: (embedding, candidate array) →
  * struct(cid, sim), one static call, no shuffle. */
case class NearestCentroidCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("sim", DoubleType, nullable = false)))
  override def nullSafeEval(v: Any, c: Any): Any =
    IvfOps.nearestCosine(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"${ev.value} = graft.functions.IvfOps.nearestCosine($v, $c);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_nearest_centroid_cosine"
}

/** Codegen'd nearest-centroid assignment (PQ/IVF): (subvector,
  * candidate array) → centroid id, one static call. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(v: Any, c: Any): Any =
    PqOps.nearestCid(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"${ev.value} = graft.functions.PqOps.nearestCid($v, $c);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_nearest_centroid"
}

/** Codegen'd ADC lookup-sum: (codes, per-sub LUT rows) → approximate
  * squared distance. */
case class AdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(codes: Any, luts: Any): Any =
    PqOps.adcDist(codes.asInstanceOf[ArrayData], luts.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.functions.PqOps.adcDist($c, $l);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_adc_dist"
}

/** Late-interaction retrieval kernel (round 9): ColBERT-style MaxSim
  * over token sub-vectors — score = Σ_i max_j <q_i, d_j> where the
  * flat vector splits into `m` contiguous sub-vectors. Accumulation
  * order (k ascending inside a dot, i ascending outside) matches the
  * DuckDB oracle's list_sum order exactly.
  */
object LateInteractionOps {
  def maxSim(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData, m: Int): Double = {
    val d = math.min(a.numElements(), b.numElements())
    // CONTRACT: both vectors are m token sub-vectors of equal width,
    // so d % m == 0; a ragged width would silently drop the trailing
    // d % m elements from every dot product — refuse instead.
    require(d % m == 0,
      s"maxSim: vector length $d is not divisible by m=$m token sub-vectors")
    val sub = d / m
    var total = 0.0
    var i = 0
    while (i < m) {
      var best = Double.NegativeInfinity
      var j = 0
      while (j < m) {
        var dot = 0.0
        var k = 0
        while (k < sub) {
          dot += a.getFloat(i * sub + k).toDouble * b.getFloat(j * sub + k).toDouble
          k += 1
        }
        if (dot > best) best = dot
        j += 1
      }
      total += best
      i += 1
    }
    total
  }
}

/** Codegen'd MaxSim: (query vec, doc vec) → late-interaction score
  * over `m` token sub-vectors. */
case class MaxSimScore(left: Expression, right: Expression, m: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    LateInteractionOps.maxSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LateInteractionOps.maxSim($a, $b, $m);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_maxsim"
}

/** PCA moment kernels (round 9). */
object PcaOps {
  /** Per-row moment vector for one-pass PCA: [v_0..v_{d-1},
    * upper-triangle outer product row-major v_i·v_j (j ≥ i)] — length
    * d + d(d+1)/2. Feeding this through the exact-decimal vector
    * aggregate yields Σv and ΣvvT in ONE corpus pass with
    * d²-bounded state; symmetry halves the row width.
    */
  def momentVec(v: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = v.numElements()
    val out = new Array[Double](d + d * (d + 1) / 2)
    var i = 0
    while (i < d) { out(i) = v.getFloat(i).toDouble; i += 1 }
    var p = d
    i = 0
    while (i < d) {
      val xi = out(i)
      var j = i
      while (j < d) { out(p) = xi * out(j); p += 1; j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Codegen'd PCA moment row: float vector → [v, upper-tri v·vT]. */
case class MomentVector(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PcaOps.momentVec(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PcaOps.momentVec($v);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "graft_moment_vec"
}

/** Training kernels (round 9): the two hot passes of distributed
  * logistic regression collapsed into single-call codegen — the
  * hashing-trick featurizer (was: explode + two shuffled groupBys)
  * and the per-iteration gradient contribution (was: three
  * CodegenFallback higher-order lambdas). Arithmetic is bit-identical
  * to the compositional spellings (integer bucket votes, ascending-
  * index dot fold), pinned by TrainingSpec's parity test.
  */
object TrainingOps {
  /** md5-derived (bucket, sign) per word, votes accumulated into a
    * dims-length array, normalized by the token count — exactly
    * conv(substr(md5(w),1,8),16,10)%dims and hex digit 9 parity. */
  def hashedFeatures(words: org.apache.spark.sql.catalyst.util.ArrayData,
                     dims: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = new Array[Double](dims)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val h = md.digest(words.getUTF8String(i).getBytes)
      val bucketVal = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      val bucket = (bucketVal % dims).toInt
      val sgn = if ((((h(4) >> 4) & 0xf) & 1) == 0) 1.0 else -1.0
      v(bucket) += sgn
      i += 1
    }
    if (n > 0) {
      var j = 0
      while (j < dims) { v(j) = v(j) / n; j += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
  }

  /** Per-row gradient contribution: [f_j·err ..., err, loss] with
    * z = Σ f_j·w_j (ascending fold) + bias, p = σ(z), err = p − y,
    * loss = −(y·ln max(p,1e-12) + (1−y)·ln max(1−p,1e-12)). */
  def logitContrib(features: org.apache.spark.sql.catalyst.util.ArrayData,
                   wb: org.apache.spark.sql.catalyst.util.ArrayData,
                   label: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = features.numElements()
    var z = 0.0
    var j = 0
    while (j < d) { z += features.getDouble(j) * wb.getDouble(j); j += 1 }
    z += wb.getDouble(d) // bias
    // StrictMath, not Math: Catalyst's Exp/Log expressions evaluate
    // through StrictMath, and the parity with the compositional
    // spelling must hold to the last ulp (TrainingSpec pins it)
    val p = 1.0 / (1.0 + StrictMath.exp(-z))
    val y = label.toDouble
    val err = p - y
    val loss = -(y * StrictMath.log(StrictMath.max(p, 1e-12)) +
      (1.0 - y) * StrictMath.log(StrictMath.max(1.0 - p, 1e-12)))
    val out = new Array[Double](d + 2)
    j = 0
    while (j < d) { out(j) = features.getDouble(j) * err; j += 1 }
    out(d) = err
    out(d + 1) = loss
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Codegen'd hashing-trick featurizer: words array → normalized
  * signed-bucket feature vector (no explode, no shuffle). */
case class HashedFeatureVec(child: Expression, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TrainingOps.hashedFeatures(v.asInstanceOf[ArrayData], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TrainingOps.hashedFeatures($v, $dims);")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "graft_hashed_features"
}

/** Codegen'd logistic gradient contribution row. */
case class LogitContrib(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(f: Any, w: Any, y: Any): Any =
    TrainingOps.logitContrib(f.asInstanceOf[ArrayData],
      w.asInstanceOf[ArrayData], y.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, w, y) =>
      s"${ev.value} = graft.functions.TrainingOps.logitContrib($f, $w, $y);")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "graft_logit_contrib"
}
