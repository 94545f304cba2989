package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SURVEY.md §2.5 / VERDICT r6 #4 — the second whole-operator Catalyst
  * extension (after [[AsOfJoinPlan]]): a native HAMMING SELF-JOIN over
  * 64-bit SimHash signatures (logical node → planner strategy →
  * physical exec).
  *
  * Semantics: given rows (id, sig), emit every pair id_a < id_b with
  * popcount(sig_a XOR sig_b) ≤ maxHamming (≤ 3) — the near-duplicate
  * pair search of Manku/Jain/Sarma WWW'07, and the one implementation
  * behind `Dedup.simhashNearDups`, q32b and q110.
  *
  * Why a custom operator: composed from built-ins, the search explodes
  * each doc into its C(6,3) = 20 block-triple keys, runs a window
  * (count + row_number ⇒ shuffle + sort) for the hot-bucket guard,
  * self-joins on the bucket key, and then needs a full `distinct()`
  * shuffle over the PAIR SET, because a pair at hamming h matches on
  * up to C(6-h,3) ≥ 1 triples and is emitted once per match. This
  * exec:
  *
  *  - fans the 20 keyed copies out in ONE internal shuffle
  *    (`repartitionAndSortWithinPartitions` on the bucket key with the
  *    doc id as secondary sort — the sort replaces the window, and
  *    every candidate comparison is co-partitioned by construction);
  *  - streams each sorted bucket with bounded memory: buckets at or
  *    under `maxBucket` emit all-pairs, larger buckets (mass-duplicate
  *    boilerplate) degrade to consecutive CHAIN pairs — linear output,
  *    connectivity preserved for the downstream connected-components
  *    pass, identical policy to `Dedup.boundedBucketPairs` (the
  *    `numOverCapBuckets` metric counts these buckets);
  *  - deduplicates LOCALLY instead of globally: a surviving pair is
  *    emitted only by the FIRST triple on which the two signatures
  *    agree, which each bucket can decide from the two sigs alone —
  *    the pair-set `distinct()` shuffle disappears entirely.
  *
  * Net: one exchange of 20 narrow rows/doc and nothing after it,
  * versus exchange + window sort + pair-set distinct. At 100 TB the
  * removed distinct is a shuffle of the full candidate-pair set.
  */
case class HammingSelfJoin(child: LogicalPlan, id: Expression, sig: Expression,
                           maxHamming: Int, maxBucket: Int,
                           outputAttrs: Seq[Attribute])
    extends UnaryNode {
  override def output: Seq[Attribute] = outputAttrs
  // outputAttrs are produced here, not read from the child — without
  // this the analyzer counts them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
  override protected def withNewChildInternal(c: LogicalPlan): HammingSelfJoin =
    copy(child = c)
}

object HammingSelfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case HammingSelfJoin(child, id, sig, maxHamming, maxBucket, out) =>
      HammingSelfJoinExec(planLater(child), id, sig, maxHamming, maxBucket, out) :: Nil
    case _ => Nil
  }
}

object HammingBlocks {
  // Manku 3-of-6 block split of a 64-bit signature: 11,11,11,11,10,10
  // bit blocks; for hamming ≤ 3 the flipped bits touch ≤ 3 blocks, so
  // at least one of the C(6,3) = 20 triples is intact on both sides.
  // The exec both emits and dedups with this one split.
  private val widths = Array(11, 11, 11, 11, 10, 10)
  private val offsets = widths.scanLeft(0)(_ + _).init
  val triples: Array[(Int, Int, Int)] =
    (for { i <- 0 until 6; j <- i + 1 until 6; k <- j + 1 until 6 }
      yield (i, j, k)).toArray

  @inline private def block(sig: Long, b: Int): Long =
    (sig >>> offsets(b)) & ((1L << widths(b)) - 1)

  /** ≤ 33-bit key for triple t: the three blocks packed 22|11|0. */
  def tripleKey(sig: Long, t: Int): Long = {
    val (i, j, k) = triples(t)
    (block(sig, i) << 22) | (block(sig, j) << 11) | block(sig, k)
  }

  /** First triple index on which the two signatures agree, or -1.
    * Defined (≥ 0) for every pair at hamming ≤ 3 — the pigeonhole
    * guarantee — and computable from the two sigs alone, which is what
    * makes emit-at-first-match a LOCAL dedup rule. */
  def firstMatchingTriple(a: Long, b: Long): Int = {
    var t = 0
    while (t < triples.length) {
      if (tripleKey(a, t) == tripleKey(b, t)) return t
      t += 1
    }
    -1
  }
}

case class HammingSelfJoinExec(child: SparkPlan, idExpr: Expression, sigExpr: Expression,
                               maxHamming: Int, maxBucket: Int,
                               outputAttrs: Seq[Attribute])
    extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numOverCapBuckets" -> SQLMetrics.createMetric(sparkContext,
      "number of over-cap buckets (chain pairs)"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numOverCapBuckets = longMetric("numOverCapBuckets")
    val childOut = child.output
    val idE = idExpr; val sigE = sigExpr
    val maxH = maxHamming; val maxB = maxBucket
    val nTriples = HammingBlocks.triples.length
    val parts = conf.numShufflePartitions

    // (bucketKey = triple<<34 | tripleKey, docId) → sig; partition on
    // bucketKey only, sort by (bucketKey, docId) so each bucket
    // arrives as a contiguous id-sorted run — the chain guard then
    // needs O(1) carried state and all-pairs needs ≤ maxBucket rows.
    val keyed: RDD[((Long, Long), Long)] = child.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create(Seq(idE, sigE), childOut)
      iter.flatMap { row =>
        val r = proj(row)
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val docId = r.getLong(0); val s = r.getLong(1)
          (0 until nTriples).iterator.map { t =>
            (((t.toLong << 34) | HammingBlocks.tripleKey(s, t), docId), s)
          }
        }
      }
    }
    val partitioner = new Partitioner {
      override def numPartitions: Int = parts
      override def getPartition(key: Any): Int = {
        val h = java.lang.Long.hashCode(key.asInstanceOf[(Long, Long)]._1) % parts
        if (h < 0) h + parts else h
      }
    }
    implicit val keyOrd: Ordering[(Long, Long)] = Ordering.Tuple2(Ordering.Long, Ordering.Long)
    val sorted = keyed.repartitionAndSortWithinPartitions(partitioner)

    sorted.mapPartitions { iter =>
      val outRow = new GenericInternalRow(3)
      val outProj = UnsafeProjection.create(outputAttrs.map(_.dataType).toArray)
      // Emit (a, b) iff hamming ≤ maxH AND this bucket's triple is the
      // first on which the sigs agree — exactly-once across the 20
      // fanned-out copies, no global distinct.
      def pair(triple: Int, idA: Long, sigA: Long, idB: Long, sigB: Long): Iterator[InternalRow] = {
        val h = java.lang.Long.bitCount(sigA ^ sigB)
        if (h <= maxH && HammingBlocks.firstMatchingTriple(sigA, sigB) == triple) {
          outRow.setLong(0, idA); outRow.setLong(1, idB); outRow.setInt(2, h)
          numOutputRows += 1
          Iterator.single(outProj(outRow))
        } else Iterator.empty
      }

      new Iterator[InternalRow] {
        private val in = iter.buffered
        private var out: Iterator[InternalRow] = Iterator.empty

        // Consume one full bucket (contiguous equal bucketKey) and
        // return its pair iterator. All-pairs under the cap; over the
        // cap switch to streaming consecutive chain pairs.
        private def nextBucket(): Iterator[InternalRow] = {
          val bucketKey = in.head._1._1
          val triple = (bucketKey >>> 34).toInt
          val buf = new ArrayBuffer[(Long, Long)](16) // (id, sig)
          while (in.hasNext && in.head._1._1 == bucketKey && buf.length <= maxB) {
            val ((_, docId), s) = in.next()
            buf += ((docId, s))
          }
          if (buf.length <= maxB) {
            // small bucket: all pairs, ids ascending by sort order
            (for {
              i <- buf.indices.iterator
              j <- (i + 1 until buf.length).iterator
              r <- pair(triple, buf(i)._1, buf(i)._2, buf(j)._1, buf(j)._2)
            } yield r)
          } else {
            // over-cap: chain pairs over the buffered prefix, then
            // stream the remainder against one carried row
            numOverCapBuckets += 1
            var prev = buf.last
            val prefix = (for {
              i <- (0 until buf.length - 1).iterator
              r <- pair(triple, buf(i)._1, buf(i)._2, buf(i + 1)._1, buf(i + 1)._2)
            } yield r)
            val rest = new Iterator[InternalRow] {
              private var inner: Iterator[InternalRow] = Iterator.empty
              override def hasNext: Boolean = {
                while (!inner.hasNext && in.hasNext && in.head._1._1 == bucketKey) {
                  val ((_, docId), s) = in.next()
                  inner = pair(triple, prev._1, prev._2, docId, s)
                  prev = (docId, s)
                }
                inner.hasNext
              }
              override def next(): InternalRow = { hasNext; inner.next() }
            }
            prefix ++ rest
          }
        }

        override def hasNext: Boolean = {
          while (!out.hasNext && in.hasNext) out = nextBucket()
          out.hasNext
        }
        override def next(): InternalRow = { hasNext; out.next() }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): HammingSelfJoinExec =
    copy(child = c)
}

object HammingJoinPlan {

  /** DataFrame-level API over a signatures table: all (doc_a, doc_b,
    * hamming) pairs with hamming ≤ maxHamming (≤ 3). The id and
    * signature columns must be bigint: the exec reads both as 8-byte
    * longs, and an int slot read that way loses its sign. Registers
    * the planner strategy on first use (also installed by
    * `GraftExtensions`).
    */
  def simhashPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    require(maxHamming <= 3,
      s"3-of-6 block keys guarantee recall only for hamming <= 3, got $maxHamming")
    val spark = sigs.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(HammingSelfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ HammingSelfJoinStrategy
    val plan = sigs.queryExecution.analyzed
    def attr(n: String): Attribute = {
      val a = plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column '$n' in ${plan.output.map(_.name)}"))
      require(a.dataType == LongType,
        s"column '$n' must be bigint, got ${a.dataType.simpleString}")
      a
    }
    val out = Seq(
      AttributeReference("doc_a", LongType, nullable = false)(),
      AttributeReference("doc_b", LongType, nullable = false)(),
      AttributeReference("hamming", IntegerType, nullable = false)())
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      HammingSelfJoin(plan, attr(idCol), attr(sigCol), maxHamming, maxBucket, out))
  }
}
