package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Text kernels + SimHash expression — SURVEY.md §2.3/§2.5. */
object TextOps {

  /** Round 17 (guide §1.2 per-task work): the shared tokenizer as ONE
    * byte-scan kernel. The compositional spelling —
    * filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " "),
    * w -> w <> "") — pays a regex pass, a split allocation and a
    * higher-order filter per row, and it sits in the SCAN stage of
    * every text query (which a one-row-group parquet file serves on a
    * single task). This kernel emits the IDENTICAL token array in one
    * pass over the lowered UTF-8 bytes:
    *  - lowercasing is the same UTF8String.toLowerCase the Lower
    *    expression applies (default UTF8_BINARY collation);
    *  - the regex deletes every char outside [a-z0-9 ] — after
    *    lowering, every such char is either a non-matching ASCII byte
    *    or a multi-byte sequence whose bytes are all ≥ 0x80, so
    *    byte-wise filtering ≡ per-code-point filtering (UTF-8 never
    *    embeds ASCII bytes in multi-byte sequences);
    *  - deleted chars vanish WITHOUT creating a token boundary ("a.b"
    *    → "ab"), only literal spaces delimit, and empty tokens drop —
    *    exactly replace-then-split-then-filter.
    * Parity with the regex spelling is pinned in Round17OptSpec.
    */
  def normWords(text: UTF8String): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val out = new java.util.ArrayList[Any]()
    val buf = new Array[Byte](bytes.length)
    var blen = 0
    var i = 0
    while (i < bytes.length) {
      val c = bytes(i)
      if (c == ' ') {
        if (blen > 0) {
          out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, blen)))
          blen = 0
        }
      } else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        buf(blen) = c
        blen += 1
      }
      i += 1
    }
    if (blen > 0)
      out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, blen)))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Round 17: `conv(substring(md5(x), start, len), 16, 10)::long` as
    * ONE digest + nibble fold — the 60-bit-key pattern every dedup
    * operator uses per SHINGLE paid a 32-char hex render, a substring
    * alloc and a string→decimal→long parse per row on top of the
    * digest. Identical value for len ≤ 15 (fits a non-negative long).
    */
  def md5HexLong(s: UTF8String, start: Int, len: Int): Long = {
    val md = md5Digest.get()
    md.reset()
    val h = md.digest(s.getBytes)
    var v = 0L
    var i = start - 1
    val end = start - 1 + len
    while (i < end) {
      val b = h(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nib.toLong
      i += 1
    }
    v
  }

  /** FNV-1a 64-bit over UTF-8 bytes — stable, public, allocation-free. */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over a token array (Charikar): per-bit vote of
    * each token's FNV hash; bit set iff vote > 0. Near-identical token
    * multisets yield signatures at small hamming distance.
    */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = fnv1a64(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 64 bits of a string's MD5 digest, big-endian — the value
    * DuckDB computes as `('0x' || substr(md5(s), 1, 16))::UBIGINT`
    * (two's-complement reinterpreted). The oracle-reproducible
    * counterpart of [[fnv1a64]].
    */
  def md5Bits64(s: UTF8String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Oracle-grade SimHash: the [[simhash64]] vote scheme over
    * md5-derived token bits instead of FNV, so DuckDB reproduces the
    * signature bit-for-bit (the md5 trick that made the minhash
    * family hash-green). ~3× the per-token hash cost of FNV — keep
    * [[simhash64]] for hot production paths.
    */
  def simhash64Md5(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = md5Bits64(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Shannon entropy (bits/char) of the character distribution — the
    * compression-proxy quality signal (gibberish ≈ high, boilerplate
    * repetition ≈ low). Counts Unicode CODE POINTS (not UTF-16 code
    * units), matching DuckDB's per-character string_split semantics on
    * non-BMP text (emoji, rare CJK). One pass + one pass over ≤
    * alphabet-size counts; rounded to 6 dp so the double repr is
    * engine-robust.
    */
  /** Unicode NFC normalization (canonical composition) — the
    * multilingual-corpus cleanup that makes "é" and "e"+U+0301 hash,
    * shingle, and dedup identically. java.text.Normalizer implements
    * the Unicode standard algorithm, so results match DuckDB's
    * `nfc_normalize` (both are Unicode-conformant). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan and ASCII
    // (the overwhelming hot path) short-circuits without allocating
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Non-overlapping regex match count — the exact count
    * `regexp_extract_all(s, p, 0)` would return the length of: the
    * same java.util.regex engine and the same Matcher.find() walk
    * (including zero-width-match advance semantics), minus every
    * per-match allocation. */
  def countMatches(s: UTF8String, p: java.util.regex.Pattern): Int = {
    val m = p.matcher(s.toString)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Deflate compression ratio (compressed/raw bytes, round 6) — the
    * Gopher/RedPajama "compressibility" quality signal: boilerplate
    * and templated spam compress far below prose. Deterministic for a
    * fixed level/strategy (zlib's output is fully specified by input
    * + parameters), so reproducible under any partitioning. Empty
    * strings report 1.0 (incompressible by convention). */
  def deflateRatio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    try {
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      var total = 0L
      while (!d.finished()) {
        val n = d.deflate(buf)
        if (n == 0 && !d.finished())
          return 1.0 // defensive: cannot make progress
        total += n
      }
      BigDecimal(total.toDouble / raw.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    } finally d.end()
  }

  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Int]()
    var i = 0
    var n = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1, Integer.sum _)
      n += 1
      i += Character.charCount(cp)
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * (math.log(p) / math.log(2.0))
    }
    BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** All nSeeds MinHash minima over the w-word shingles of a token
    * array, in ONE pass: per shingle, one FNV-1a base hash, then a
    * splitmix64 remix per seed (the seed-salted derivation — same
    * independence argument as the md5-slice scheme). No per-shingle
    * row ever materializes: the whole signature is a scalar-expression
    * loop, so the LSH front needs no explode, no aggregate, and no
    * shuffle. Empty/short docs yield sentinel Long.MaxValue minima.
    */
  def minhash64(words: ArrayData, w: Int, nSeeds: Int): ArrayData = {
    val mins = Array.fill(nSeeds)(Long.MaxValue)
    val n = words.numElements()
    if (n >= w) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= n - w) {
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(words.getUTF8String(i + j).toString)
          j += 1
        }
        val h0 = fnv1a64(UTF8String.fromString(sb.toString))
        var s = 0
        while (s < nSeeds) {
          val hs = graft.functions.VectorOps.mix64(h0 ^ (0x9e3779b97f4a7c15L * (s + 1)))
          if (hs < mins(s)) mins(s) = hs
          s += 1
        }
        i += 1
      }
    }
    ArrayData.toArrayData(mins)
  }

  /** DISTINCT w-word shingles of a token array (first-occurrence
    * order, matching array_distinct semantics), in one pass. As a
    * plain unary kernel this is safe to compose directly over
    * normWords in a single projection — unlike the higher-order-
    * lambda shingle formulation, whose inlined input is re-evaluated
    * per shingle index when CollapseProject merges the projections.
    */
  def shingleSet(words: ArrayData, w: Int): ArrayData = {
    val n = words.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (n >= w) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= n - w) {
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(words.getUTF8String(i + j).toString)
          j += 1
        }
        seen.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Public alias for kernels outside this object (WinnowOps). */
  def md5HexOf(s: String): String = md5Hex(s)

  private def md5Hex(s: String): String = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** All nBands md5-slice LSH band signatures of a token array in ONE
    * pass — the oracle-reproducible counterpart of [[minhashBands]]:
    * per w-word shingle ONE md5; seed s's minhash is the lexicographic
    * min of the 4-hex-char slice at offset 4s; band b's signature is
    * the md5 of its rowsPerBand minhashes joined by ','. Bit-identical
    * to the aggregate formulation (a doc_id groupBy over
    * Dedup.docShingles, spec-checked in DedupSimilaritySpec, and the
    * DuckDB oracle's `MIN(substr(md5(sh), seed*4+1, 4))` +
    * `md5(string_agg(minhash, ','))`), but with no exchange, no sort,
    * and no per-shingle row materialization. Docs with fewer than w
    * words yield an empty array (the aggregate path drops them too).
    */
  def md5Bands(words: ArrayData, w: Int, nSeeds: Int, rowsPerBand: Int): ArrayData = {
    // re-checked here (not just in the operator wrapper) because the
    // SQL-registered graft_md5_bands reaches this kernel directly
    require(nSeeds >= 1 && nSeeds <= 8, s"seed slices are 4 hex chars of one md5: 1 <= nSeeds <= 8, got $nSeeds")
    require(rowsPerBand >= 1 && nSeeds % rowsPerBand == 0, "nSeeds must be a positive multiple of rowsPerBand")
    val n = words.numElements()
    if (n < w) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val mins = new Array[String](nSeeds)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - w) {
      sb.setLength(0)
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      val hex = md5Hex(sb.toString)
      var s = 0
      while (s < nSeeds) {
        val slice = hex.substring(4 * s, 4 * s + 4)
        if (mins(s) == null || slice.compareTo(mins(s)) < 0) mins(s) = slice
        s += 1
      }
      i += 1
    }
    val nBands = nSeeds / rowsPerBand
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      sb.setLength(0)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = UTF8String.fromString(md5Hex(sb.toString))
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** LSH band signatures straight from the token array: the per-seed
    * minima of [[minhash64]] folded per band through splitmix64. One
    * kernel call per doc ⇒ the generator input is evaluated exactly
    * once (no reliance on downstream subexpression elimination).
    */
  def minhashBands(words: ArrayData, w: Int, nSeeds: Int, rowsPerBand: Int): ArrayData = {
    val mins = minhash64(words, w, nSeeds)
    val nBands = nSeeds / rowsPerBand
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var h = 0x243f6a8885a308d3L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        h = graft.functions.VectorOps.mix64(h ^ mins.getLong(b * rowsPerBand + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Codegen'd winnowing-fingerprint kernel (round 8): fuses k-gram
  * md5 hashing with the sliding-window minimum selection of
  * [[graft.operators.Dedup.winnowedFingerprints]] into one O(len)
  * pass — the compositional `transform`+`array_min(slice)` spelling
  * re-scans w hashes per window (O(len·w)). The sliding min runs a
  * MONOTONIC DEQUE (each gram hash enters and leaves the deque at
  * most once); selected fingerprints dedup in insertion order.
  * Bit-identical output contract to the compositional form (same
  * gram text, same md5 hex, same lexicographic minimum), spec- and
  * oracle-pinned.
  */
object WinnowOps {
  def winnow(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    val nh = n - k + 1
    if (nh < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // gram md5 hex strings (same joined-with-space text as the oracle)
    val hs = new Array[String](nh)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nh) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      hs(i) = TextOps.md5HexOf(sb.toString)
      i += 1
    }
    // monotonic deque of indices: values increasing head→tail; the
    // head is the window minimum. Equal values pop (>= 0) so the
    // NEWEST minimal index survives — the min VALUE is unaffected.
    val deque = new Array[Int](nh)
    var head = 0
    var tail = 0
    val out = new java.util.LinkedHashSet[String]()
    i = 0
    while (i < nh) {
      while (tail > head && hs(deque(tail - 1)).compareTo(hs(i)) >= 0) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out.add(hs(deque(head)))
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = UTF8String.fromString(it.next()); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Codegen'd winnowing fingerprints of ArrayType(StringType) tokens →
  * ArrayType(StringType) distinct selected md5-hex fingerprints. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    WinnowOps.winnow(t.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.WinnowOps.winnow($t, $k, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_winnow"
}

/** Codegen'd one-pass MinHash LSH band signatures of
  * ArrayType(StringType) tokens → ArrayType(LongType), one signature
  * per band. */
case class MinHashBandSig(child: Expression, shingleWidth: Int, nSeeds: Int,
                          rowsPerBand: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextOps.minhashBands(t.asInstanceOf[ArrayData], shingleWidth, nSeeds, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.TextOps.minhashBands($t, $shingleWidth, $nSeeds, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_minhash_bands"
}

/** Codegen'd one-pass md5-slice LSH band signatures of
  * ArrayType(StringType) tokens → ArrayType(StringType), one md5-hex
  * signature per band — oracle-reproducible (see [[TextOps.md5Bands]]). */
case class Md5BandSig(child: Expression, shingleWidth: Int, nSeeds: Int,
                      rowsPerBand: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextOps.md5Bands(t.asInstanceOf[ArrayData], shingleWidth, nSeeds, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.TextOps.md5Bands($t, $shingleWidth, $nSeeds, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_md5_bands"
}

/** Codegen'd one-pass MinHash signature of ArrayType(StringType)
  * tokens → ArrayType(LongType) of per-seed minima. */
case class MinHashSignature(child: Expression, shingleWidth: Int, nSeeds: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextOps.minhash64(t.asInstanceOf[ArrayData], shingleWidth, nSeeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.TextOps.minhash64($t, $shingleWidth, $nSeeds)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_minhash64"
}

/** Codegen'd md5-prefix key: string → long value of hex digits
  * [start, start+len) of md5(x) — identical to
  * conv(substring(md5(x), start, len), 16, 10)::long for len ≤ 15. */
case class Md5HexLong(child: Expression, start: Int, len: Int)
    extends UnaryExpression {
  require(start >= 1 && len >= 1 && start + len <= 33 && len <= 15,
    s"md5HexLong: hex window [$start, ${start + len}) out of range")
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any =
    TextOps.md5HexLong(t.asInstanceOf[UTF8String], start, len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.md5HexLong($t, $start, $len)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_md5_hex_long"
}

/** Codegen'd shared tokenizer: string → ArrayType(StringType) tokens,
  * bit-identical to the replace/split/filter spelling it replaced
  * (see [[TextOps.normWords]]). */
case class NormWordsKernel(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextOps.normWords(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.normWords($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_norm_words"
}

/** Codegen'd distinct w-word shingle set of ArrayType(StringType)
  * tokens → ArrayType(StringType). */
case class ShingleSet(child: Expression, shingleWidth: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(t: Any): Any =
    TextOps.shingleSet(t.asInstanceOf[ArrayData], shingleWidth)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.TextOps.shingleSet($t, $shingleWidth)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_shingle_set"
}

/** Codegen'd deflate compression ratio of a string. */
case class DeflateRatio(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(t: Any): Any =
    TextOps.deflateRatio(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.deflateRatio($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_deflate_ratio"
}

/** Codegen'd regex match COUNT — `size(regexp_extract_all(s, p, 0))`
  * without materializing the match array. The counting spelling is
  * the hot path of every quality/token/PII signal (a per-doc count
  * feeding a ratio), and the builtin route allocates one UTF8String
  * per match plus the array just to take its length; this expression
  * runs the same java.util.regex engine (bit-identical counts, find()
  * loop) and allocates nothing. The pattern must be a foldable
  * literal — it compiles ONCE per expression instance and ships into
  * generated code as a reference object, not a per-row compile.
  * Returns IntegerType to be a drop-in for `size(...)` (PlanAuditSpec
  * pins the count parity against the builtin spelling).
  */
case class CountMatches(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != StringType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got (${left.dataType}, ${right.dataType})")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName pattern must be a literal")
    else TypeCheckResult.TypeCheckSuccess
  }
  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      right.eval().asInstanceOf[UTF8String].toString)
  override def nullSafeEval(s: Any, p: Any): Any =
    TextOps.countMatches(s.asInstanceOf[UTF8String], compiled)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCountPattern", compiled,
      "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.functions.TextOps.countMatches($s, $ref);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_count_matches"
}

/** Word-level longest-common-subsequence kernel — the ROUGE-L core
  * (Lin'04). Classic O(|a|·|b|) DP with a two-row rolling buffer;
  * words compare as UTF8String (no JVM String churn). Quadratic per
  * PAIR — callers must feed bounded candidate pairs (the q199
  * discipline: LSH/blocked candidates only), never a cross join.
  */
object LcsOps {
  def lcsLen(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    val bw = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      bw(j) = if (b.isNullAt(j)) null else b.getUTF8String(j)
      j += 1
    }
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < n) {
      // null array elements never match (SQL null semantics) — they
      // contribute nothing to the subsequence instead of NPEing.
      val aw = if (a.isNullAt(i)) null else a.getUTF8String(i)
      j = 0
      while (j < m) {
        cur(j + 1) =
          if (aw != null && bw(j) != null && aw.equals(bw(j))) prev(j) + 1
          else if (prev(j + 1) >= cur(j)) prev(j + 1)
          else cur(j)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m).toLong
  }
}

/** Codegen'd word-level LCS length over two array<string> columns. */
case class LcsLength(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def ok(dt: DataType) = dt match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), " +
        s"got (${left.dataType}, ${right.dataType})")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    LcsOps.lcsLen(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LcsOps.lcsLen($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_lcs_len"
}

/** Codegen'd Unicode NFC normalization of a string. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullSafeEval(t: Any): Any =
    TextOps.nfc(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.nfc($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_nfc"
}

/** Codegen'd character-distribution Shannon entropy of a string. */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(t: Any): Any =
    TextOps.charEntropy(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.charEntropy($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_char_entropy"
}

/** Codegen'd 64-bit SimHash of ArrayType(StringType) tokens. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any =
    TextOps.simhash64(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.simhash64($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_simhash64"
}

/** Codegen'd md5-bit 64-bit SimHash — DuckDB-reproducible (see
  * [[TextOps.simhash64Md5]]). */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(t: Any): Any =
    TextOps.simhash64Md5(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextOps.simhash64Md5($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_simhash_md5"
}

/** Column-level API + SQL registration for the graft functions. */
object GraftFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  def cosine(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  def hyperplaneSig(v: Column, nBits: Column, seed: Long): Column =
    toCol(HyperplaneSignature(toExpr(v), toExpr(nBits), seed))

  def simhash64(tokens: Column): Column =
    toCol(SimHash64(toExpr(tokens)))

  def simhashMd5(tokens: Column): Column =
    toCol(SimHashMd5(toExpr(tokens)))

  def minhashSig(tokens: Column, shingleWidth: Int, nSeeds: Int): Column =
    toCol(MinHashSignature(toExpr(tokens), shingleWidth, nSeeds))

  def minhashBandSig(tokens: Column, shingleWidth: Int, nSeeds: Int,
                     rowsPerBand: Int): Column =
    toCol(MinHashBandSig(toExpr(tokens), shingleWidth, nSeeds, rowsPerBand))

  def md5BandSig(tokens: Column, shingleWidth: Int, nSeeds: Int,
                 rowsPerBand: Int): Column =
    toCol(Md5BandSig(toExpr(tokens), shingleWidth, nSeeds, rowsPerBand))

  def shingleSet(tokens: Column, shingleWidth: Int): Column =
    toCol(ShingleSet(toExpr(tokens), shingleWidth))

  /** Fused decontamination probe — see [[ShingleSetMatch]]. */
  def shingleSetMatch(words: Column, width: Int, benchShingles: Seq[String],
                      countTotal: Boolean): Column =
    toCol(ShingleSetMatch(toExpr(words), width, benchShingles, countTotal))

  def winnow(tokens: Column, k: Int, w: Int): Column =
    toCol(WinnowFingerprints(toExpr(tokens), k, w))

  def nearestCentroid(svec: Column, cands: Column): Column =
    toCol(NearestCentroid(toExpr(svec), toExpr(cands)))

  def nearestCentroidCosine(emb: Column, cands: Column): Column =
    toCol(NearestCentroidCosine(toExpr(emb), toExpr(cands)))

  def md5HexLong(c: Column, start: Int, len: Int): Column =
    toCol(Md5HexLong(toExpr(c), start, len))

  def momentVector(v: Column): Column =
    toCol(MomentVector(toExpr(v)))

  def maxSim(q: Column, d: Column, m: Int): Column =
    toCol(MaxSimScore(toExpr(q), toExpr(d), m))

  def lcsLen(a: Column, b: Column): Column =
    toCol(LcsLength(toExpr(a), toExpr(b)))

  def hashedFeatures(words: Column, dims: Int): Column =
    toCol(HashedFeatureVec(toExpr(words), dims))

  def logitContrib(features: Column, wb: Column, label: Column): Column =
    toCol(LogitContrib(toExpr(features), toExpr(wb), toExpr(label)))

  def adcDistance(codes: Column, luts: Column): Column =
    toCol(AdcDistance(toExpr(codes), toExpr(luts)))

  def charEntropy(text: Column): Column =
    toCol(CharEntropy(toExpr(text)))

  def nfc(text: Column): Column =
    toCol(NfcNormalize(toExpr(text)))

  def countMatches(text: Column, pattern: String): Column =
    toCol(CountMatches(toExpr(text), toExpr(lit(pattern))))

  def deflateRatio(text: Column): Column =
    toCol(DeflateRatio(toExpr(text)))

  def acScan(text: Column, terms: Seq[String]): Column =
    toCol(AcScan(toExpr(text), terms))

  def jaroWinkler(a: Column, b: Column): Column =
    toCol(JaroWinklerSim(toExpr(a), toExpr(b)))

  def soundex(name: Column): Column =
    toCol(SoundexCode(toExpr(name)))

  /** Lower-case, strip non-alphanumerics (keeping spaces), split on
    * single spaces, drop empties — the shared normalization used by
    * dedup/text queries; mirrored in the DuckDB oracles as
    * list_filter(string_split(regexp_replace(lower(text), ...), ' '),
    * ...). Round 17: rides the single-pass [[NormWordsKernel]] (same
    * tokens bit-exactly — Round17OptSpec pins parity against the
    * regex spelling, [[normWordsRegex]]). */
  def normWords(text: Column): Column =
    toCol(NormWordsKernel(toExpr(text)))

  /** The pre-round-17 compositional spelling — kept as the parity
    * oracle for [[normWords]] (and for any caller that needs the
    * tokenizer as a pure built-in-expression tree). */
  def normWordsRegex(text: Column): Column =
    filter(split(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " "), w => w =!= "")

  /** w-length word shingles over the normalized words.
    *
    * IMPORTANT: pass a *bound column* (e.g. project normWords into a
    * column first), not an inline expression — `words` is referenced
    * from inside a higher-order lambda where Catalyst disables
    * subexpression elimination, so an inline subtree would be
    * re-evaluated once per shingle index.
    */
  def wordShingles(words: Column, w: Int): Column =
    when(size(words) >= w,
      transform(sequence(lit(1), size(words) - (w - 1)),
        i => array_join(slice(words, i, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))

  private def intLit(e: Expression, arg: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$arg must be an integer literal, got $other")
  }

  private def dblLit(e: Expression, arg: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$arg must be a numeric literal, got $other")
  }

  /** The SQL function table (SURVEY §2.5 #48): one (name, builder)
    * entry per SQL-callable graft function, installed per session by
    * [[register]] and per process by [[graft.GraftExtensions]]. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (es => CosineSimilarity(es.head, es(1))),
    "graft_simhash64" -> (es => SimHash64(es.head)),
    "graft_simhash_md5" -> (es => SimHashMd5(es.head)),
    "graft_minhash" -> (es => MinHashSignature(es.head,
      intLit(es(1), "shingleWidth"), intLit(es(2), "nSeeds"))),
    "graft_minhash_bands" -> (es => MinHashBandSig(es.head, intLit(es(1), "shingleWidth"),
      intLit(es(2), "nSeeds"), intLit(es(3), "rowsPerBand"))),
    "graft_md5_bands" -> (es => Md5BandSig(es.head, intLit(es(1), "shingleWidth"),
      intLit(es(2), "nSeeds"), intLit(es(3), "rowsPerBand"))),
    "graft_shingle_set" -> (es => ShingleSet(es.head, intLit(es(1), "shingleWidth"))),
    "graft_winnow" -> (es => WinnowFingerprints(es.head,
      intLit(es(1), "k"), intLit(es(2), "w"))),
    "graft_nearest_centroid" -> (es => NearestCentroid(es.head, es(1))),
    "graft_moment_vec" -> (es => MomentVector(es.head)),
    "graft_adc_dist" -> (es => AdcDistance(es.head, es(1))),
    "graft_char_entropy" -> (es => CharEntropy(es.head)),
    "graft_nfc" -> (es => NfcNormalize(es.head)),
    "graft_count_matches" -> (es => CountMatches(es.head, es(1))),
    "graft_lcs_len" -> (es => LcsLength(es.head, es(1))),
    "graft_deflate_ratio" -> (es => DeflateRatio(es.head)),
    "graft_jaro_winkler" -> (es => JaroWinklerSim(es.head, es(1))),
    "graft_soundex" -> (es => SoundexCode(es.head)),
    "graft_bloom_agg" -> (es => BloomAggregate(es.head, intLit(es(1), "numBits"),
      intLit(es(2), "numHashes")).toAggregateExpression()),
    "graft_bloom_contains" -> (es =>
      BloomMightContain(es.head, es(1), intLit(es(2), "numHashes"))),
    "graft_image_header" -> (es => ImageHeader(es.head)),
    "graft_ahash64" -> (es => AHash64(es.head)),
    // variadic quantile list: graft_kll_quantiles(value, k, q1, q2, ...)
    // — the analyzer wraps the returned AggregateFunction itself
    "graft_kll_quantiles" -> (es => KllQuantiles(es.head, intLit(es(1), "k"),
      es.drop(2).map(dblLit(_, "q"))).toAggregateExpression()))

  /** Register the SQL-callable versions on one session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
