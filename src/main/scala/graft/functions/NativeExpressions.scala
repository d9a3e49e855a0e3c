package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the scan-speed hot paths of the
  * training-data pipeline (SURVEY.md §7.3: "promote to Expression only if
  * codegen matters in bench" — it does: the `aggregate`/`transform`
  * higher-order functions these replace are interpreted per element and
  * materialize intermediate arrays, while these run one fused pass per
  * row inside WholeStageCodegen via a static call).
  *
  * Each expression's semantics exactly mirror its Column-combinator twin
  * in `ops.TextOps` / `ops.Similarity` / `ops.Dedupe` (for `TextGate`,
  * the higher-order-function gate forms kept in NativeFunctionsSpec), and
  * the DuckDB oracles validate both implementations against the same SQL.
  */
object Native {

  /** `\p{L}` and `\p{L}\p{N}` as `Character.getType` bit sets: the
    * general categories java.util.regex tests for those properties.
    */
  private val LetterTypes: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER)
  private val TokenTypes: Int = LetterTypes |
    (1 << Character.DECIMAL_DIGIT_NUMBER) | (1 << Character.LETTER_NUMBER) |
    (1 << Character.OTHER_NUMBER)

  @inline private def isLetter(cp: Int): Boolean =
    cp >= 0 && ((LetterTypes >>> Character.getType(cp)) & 1) != 0

  @inline private def isTokenChar(cp: Int): Boolean =
    cp == '\'' || cp >= 0 && ((TokenTypes >>> Character.getType(cp)) & 1) != 0

  /** The code point starting at `at` (low 32 bits) and its byte length
    * (high 32 bits). A byte that does not start a well-formed UTF-8
    * sequence (Unicode Table 3-7, what Java's decoder accepts) reads as
    * code point -1 of length 1: the U+FFFD the decoder would produce is
    * neither a letter nor a token char, and no valid sequence is ever
    * swallowed by it.
    */
  private def codePointAt(base: AnyRef, at: Long, left: Int): Long = {
    val b0 = Platform.getByte(base, at) & 0xff
    if (b0 < 0x80) return (1L << 32) | b0
    @inline def b(k: Int): Int = Platform.getByte(base, at + k) & 0xff
    @inline def cont(k: Int, lo: Int, hi: Int): Boolean = {
      val x = b(k); x >= lo && x <= hi
    }
    val malformed = (1L << 32) | 0xffffffffL
    if (b0 < 0xc2 || b0 > 0xf4) malformed
    else if (b0 < 0xe0) {
      if (left >= 2 && cont(1, 0x80, 0xbf)) (2L << 32) | ((b0 & 0x1f) << 6 | b(1) & 0x3f)
      else malformed
    } else if (b0 < 0xf0) {
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      if (left >= 3 && cont(1, lo, hi) && cont(2, 0x80, 0xbf))
        (3L << 32) | ((b0 & 0x0f) << 12 | (b(1) & 0x3f) << 6 | b(2) & 0x3f)
      else malformed
    } else {
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      if (left >= 4 && cont(1, lo, hi) && cont(2, 0x80, 0xbf) && cont(3, 0x80, 0xbf))
        (4L << 32) | ((b0 & 0x07) << 18 | (b(1) & 0x3f) << 12 | (b(2) & 0x3f) << 6 | b(3) & 0x3f)
      else malformed
    }
  }

  /** Skips the run of token chars (`token` = true) or of separators
    * (false) at `from`: the first byte after it, `n` at the end.
    */
  private def skip(base: AnyRef, off: Long, from: Int, n: Int, token: Boolean): Int = {
    var i = from
    while (i < n) {
      val c = codePointAt(base, off + i, n - i)
      if (isTokenChar(c.toInt) != token) return i
      i += (c >>> 32).toInt
    }
    n
  }

  /** One-pass token count of lowered text on the `TextOps.words`
    * contract: tokens are maximal runs of `\p{L}\p{N}'` code points.
    */
  def tokenCount(lowered: UTF8String): Int = {
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
    var count = 0
    var i = skip(base, off, 0, n, token = false)
    while (i < n) {
      count += 1
      i = skip(base, off, skip(base, off, i, n, token = true), n, token = false)
    }
    count
  }

  /** The counts behind `TextOps.qualityScore` and `langId`, from one pass
    * over each of `raw` and `lowered` (= lower(raw)) and no per-row
    * collection: `lowered` is tokenized as in `tokenCount`, and every
    * token short enough to be a lexicon word is looked up by its packed
    * bytes, setting that word's bit — so each word counts once however
    * often it occurs (`array_intersect` semantics). Returns TextGate's
    * struct: the `TextGate.Counts` in order, then each language's hits.
    */
  def textGate(raw: UTF8String, lowered: UTF8String, lex: GateLexicon): UnsafeRow = {
    var alpha = 0
    var punct = 0
    val rBase = raw.getBaseObject
    val rOff = raw.getBaseOffset
    val rn = raw.numBytes
    var i = 0
    while (i < rn) {
      val c = codePointAt(rBase, rOff + i, rn - i)
      val cp = c.toInt
      if (isLetter(cp)) alpha += 1
      else if (cp < 0x80 && GateLexicon.Punct.indexOf(cp) >= 0) punct += 1
      i += (c >>> 32).toInt
    }

    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
    var words = 0
    var seen = 0L
    i = skip(base, off, 0, n, token = false)
    while (i < n) {
      val end = skip(base, off, i, n, token = true)
      words += 1
      if (end - i <= GateLexicon.MaxBytes) {
        var key = 0L
        var j = i
        while (j < end) { key = key << 8 | (Platform.getByte(base, off + j) & 0xff); j += 1 }
        val at = java.util.Arrays.binarySearch(lex.keys, key)
        if (at >= 0) seen |= lex.bits(at)
      }
      i = skip(base, off, end, n, token = false)
    }

    val fields = TextGate.Counts.length + lex.langMasks.length
    val size = UnsafeRow.calculateBitSetWidthInBytes(fields) + 8 * fields
    val row = new UnsafeRow(fields)
    row.pointTo(new Array[Byte](size), size)
    row.setInt(0, raw.numChars)
    row.setInt(1, alpha)
    row.setInt(2, punct)
    row.setInt(3, words)
    row.setInt(4, java.lang.Long.bitCount(seen))
    var l = 0
    while (l < lex.langMasks.length) {
      row.setInt(TextGate.Counts.length + l, java.lang.Long.bitCount(seen & lex.langMasks(l)))
      l += 1
    }
    row
  }

  /** ASCII-alnum token char, lowercased — EXACTLY the column twins'
    * tokenizer (`Dedupe.wordsOf`/`simhash`: replace `[^a-zA-Z0-9 ]` then
    * locale-independent lower()). Unicode `isLetterOrDigit` + default-
    * locale toLowerCase would diverge on non-ASCII corpora and make
    * signatures depend on the JVM's locale (round-1 advice).
    */
  @inline private def asciiTokenChar(c: Char): Char =
    if (c >= 'a' && c <= 'z' || c >= '0' && c <= '9') c
    else if (c >= 'A' && c <= 'Z') (c + 32).toChar
    else 0

  /** One-pass 64-bit SimHash over lowercased tokens (same tokenization as
    * `Dedupe.simhash`'s split on non-alphanumerics; xxhash64 per token,
    * majority vote per bit).
    */
  def simhash64(s: UTF8String): Long = {
    val str = s.toString
    val votes = new Array[Int](64)
    var nTokens = 0
    var i = 0
    val sb = new java.lang.StringBuilder(16)
    def flush(): Unit = if (sb.length > 0) {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1; b += 1 }
      nTokens += 1
      sb.setLength(0)
    }
    while (i < str.length) {
      val c = asciiTokenChar(str.charAt(i))
      if (c != 0) sb.append(c) else flush()
      i += 1
    }
    flush()
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) * 2 > nTokens) sig |= (1L << b); b += 1 }
    sig
  }

  /** One-pass MinHash signature: tokenize (lowercase, non-alphanumeric
    * separators), form word k-shingles, and for each of `numHashes` seeded
    * lanes take the min xxhash64 over the shingles — without materializing
    * shingle arrays or per-lane lambda evaluations (the interpreted HOF
    * form costs ~1000 lambda calls per document). Returns null-free
    * ARRAY<BIGINT> of length numHashes, or null when no shingle exists.
    */
  def minhashSignature(s: UTF8String, k: Int, numHashes: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    // tokenize (ASCII alnum, lowercased — see asciiTokenChar)
    val words = new java.util.ArrayList[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < str.length) {
      val c = asciiTokenChar(str.charAt(i))
      if (c != 0) sb.append(c)
      else if (sb.length > 0) { words.add(sb.toString); sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) words.add(sb.toString)
    val nW = words.size()
    if (nW == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val shingle = new java.lang.StringBuilder(64)
    var p = 0
    val last = math.max(nW - k, 0)
    while (p <= last) {
      shingle.setLength(0)
      var j = p
      val end = math.min(p + k, nW)
      while (j < end) {
        if (j > p) shingle.append(' ')
        shingle.append(words.get(j))
        j += 1
      }
      val u = UTF8String.fromString(shingle.toString)
      var lane = 0
      while (lane < numHashes) {
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(u, StringType, lane.toLong)
        if (h < mins(lane)) mins(lane) = h
        lane += 1
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Cosine similarity of two float arrays, accumulated in doubles in
    * element order — bit-identical to the fold in `Similarity.cosine` and
    * to the DuckDB oracle's ordered list_sum.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Cosine of two int8 (byte) arrays — the quantized-index probe fold.
    * Each element is widened byte→double (exact) and accumulated in
    * element order, so the result is bit-identical to the interpreted
    * HOF fold (`Similarity.cosine` with its per-element double casts)
    * and to the DuckDB oracle's ordered list fold over the same ints.
    */
  def cosineI8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toDouble
      val y = b.getByte(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Random-hyperplane weight table for the LSH bucket hash, precomputed
    * once per (bits, dims, seed) and cached — the per-row work is then a
    * pure fused dot-product pass. Weight derivation is EXACTLY the HOF
    * column form's `(xxhash64(j, b, seed) % 1000) / 500.0 - 1.0` chain
    * (XxHash64 starts at seed 42 and folds each argument), so the native
    * bucket is bit-identical to `Similarity.lshBucket` (pinned in
    * SimilaritySpec).
    */
  private val lshCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()
  private def lshWeights(bits: Int, dims: Int, seed: Int): Array[Double] =
    lshCache.computeIfAbsent((bits, dims, seed), { _ =>
      val w = new Array[Double](bits * dims)
      var b = 0
      while (b < bits) {
        var j = 0
        while (j < dims) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(seed,
            org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b,
              org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(j, 42L)))
          w(b * dims + j) = (h % 1000L).toDouble / 500.0 - 1.0
          j += 1
        }
        b += 1
      }
      w
    })

  /** One fused pass over the vector: all `bits` hyperplane projections
    * accumulated in element order (the same left fold as the interpreted
    * `aggregate`/`zip_with` form, so signs — and buckets — are
    * bit-identical), at scan speed instead of per-element lambda cost.
    */
  def lshBucket(emb: ArrayData, bits: Int, seed: Int): Long = {
    val n = emb.numElements()
    val w = lshWeights(bits, n, seed)
    var bucket = 0L
    var b = 0
    while (b < bits) {
      var proj = 0.0
      val off = b * n
      var j = 0
      while (j < n) { proj += emb.getFloat(j).toDouble * w(off + j); j += 1 }
      if (proj >= 0) bucket |= 1L << b
      b += 1
    }
    bucket
  }

  /** Character n-gram Jaccard of two strings in one fused pass — the
    * native form of `Dedupe.charNgrams` + `jaccard` (distinct n-length
    * codepoint windows; |A∩B| / |A∪B|, 0 on empty union). The HOF form
    * pays an interpreted lambda per character per array op (measured
    * ~11 s for 5k docs at sf0.1); this runs at scan speed.
    */
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = ngramSet(a.toString, n)
    val sb = ngramSet(b.toString, n)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  private def ngramSet(s: String, n: Int): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    val cps = s.codePoints().toArray
    var i = 0
    while (i + n <= cps.length) { set.add(new String(cps, i, n)); i += 1 }
    set
  }

  /** FNV-1a 32-bit over raw bytes — the hash behind the reference kafka
    * output's default `fnv1a_hash` partitioner (sarama's
    * NewHashPartitioner; reference: internal/old/output/writer/
    * kafka.go:216-217). Returned as the signed int32 reinterpretation,
    * matching sarama's `int32(hasher.Sum32())` before its mod/abs.
    */
  def fnv1a32(b: Array[Byte]): Int = {
    var h = 0x811c9dc5 // 2166136261
    var i = 0
    while (i < b.length) {
      h = (h ^ (b(i) & 0xff)) * 0x01000193 // 16777619, wraps mod 2^32
      i += 1
    }
    h
  }

  /** Kafka-compatible murmur2 over raw bytes — the hash the reference
    * installs for its `murmur2_hash` partitioner so keyed messages land on
    * the same partition as the Java Kafka client (reference:
    * internal/old/output/writer/kafka.go:456-547; golden vectors from
    * kafka_test.go:8-23 are pinned in KafkaPartitionSpec). All arithmetic
    * is 32-bit wrapping; JVM Int semantics give it for free.
    */
  def murmur2Kafka(data: Array[Byte]): Int = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val length = data.length
    var h = seed ^ length
    val length4 = length / 4
    var i = 0
    while (i < length4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) + ((data(i4 + 1) & 0xff) << 8) +
        ((data(i4 + 2) & 0xff) << 16) + ((data(i4 + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> 24
      k *= m
      h *= m
      h ^= k
      i += 1
    }
    val base = length & ~3
    (length % 4) match {
      case 3 =>
        h ^= (data(base + 2) & 0xff) << 16
        h ^= (data(base + 1) & 0xff) << 8
        h ^= data(base) & 0xff
        h *= m
      case 2 =>
        h ^= (data(base + 1) & 0xff) << 8
        h ^= data(base) & 0xff
        h *= m
      case 1 =>
        h ^= data(base) & 0xff
        h *= m
      case _ =>
    }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }
}

/** TokenCount(lower(text)) (`NativeFunctions.tokenCount`): codegen'd one-pass
  * token count of lowered text (`Native.tokenCount`).
  */
case class TokenCount(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    Native.tokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.tokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** A stop-word lexicon compiled for `Native.textGate`: each distinct word
  * owns one bit of a 64-bit set and is found by its UTF-8 bytes packed
  * into a long (no token char is a NUL byte, so packing is one-to-one for
  * words of up to 8 bytes).
  */
final class GateLexicon(lexicon: Seq[(String, Seq[String])]) extends Serializable {
  private val words = lexicon.flatMap(_._2).distinct
  require(words.size <= 64, s"a gate lexicon holds at most 64 distinct words, got ${words.size}")
  private val packed = words.zipWithIndex.map { case (w, bit) =>
    val bytes = w.getBytes("UTF-8")
    require(bytes.length <= GateLexicon.MaxBytes, s"lexicon word '$w' is over ${GateLexicon.MaxBytes} UTF-8 bytes")
    bytes.foldLeft(0L)((k, b) => k << 8 | (b & 0xff)) -> (1L << bit)
  }.sortBy(_._1)
  val keys: Array[Long] = packed.map(_._1).toArray
  val bits: Array[Long] = packed.map(_._2).toArray
  val langMasks: Array[Long] = lexicon.map { case (_, stops) =>
    stops.distinct.foldLeft(0L)((m, w) => m | (1L << words.indexOf(w)))
  }.toArray
}

object GateLexicon {
  val MaxBytes = 8
  /** The punctuation `TextOps.qualityScore` counts. */
  val Punct = ".,;:!?"
}

/** TextGate(text, lower(text), lexicon): the quality and language gates'
  * counts for one turn from one codegen'd pass (`Native.textGate`), as a
  * struct of `TextGate.Counts` and `hits_<lang>` per lexicon language.
  * Lowering is Catalyst's own `Lower`, so the tokens are exactly those of
  * `TextOps.words`.
  */
case class TextGate(left: Expression, right: Expression, lexicon: Seq[(String, Seq[String])])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val compiled = new GateLexicon(lexicon)
  override lazy val dataType: DataType = StructType(
    (TextGate.Counts ++ lexicon.map("hits_" + _._1)).map(StructField(_, IntegerType, nullable = false)))
  override def inputTypes = Seq(StringType, StringType)
  override def prettyName: String = "text_gate"
  // the lexicon is a constant of the expression; plans print the inputs
  override def stringArgs: Iterator[Any] = Iterator(left, right)
  override protected def nullSafeEval(raw: Any, lowered: Any): Any =
    Native.textGate(raw.asInstanceOf[UTF8String], lowered.asInstanceOf[UTF8String], compiled)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lex = ctx.addReferenceObj("lexicon", compiled)
    defineCodeGen(ctx, ev, (raw, lowered) => s"graft.functions.Native.textGate($raw, $lowered, $lex)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TextGate =
    copy(left = l, right = r)
}

object TextGate {
  /** The struct's leading fields: `chars` = length(text), `alpha` =
    * `\p{L}` code points of text, `punct` = `[.,;:!?]` chars of text,
    * `words` = size(words(text)), `stop_hits` = distinct lexicon words
    * among them.
    */
  val Counts: IndexedSeq[String] = IndexedSeq("chars", "alpha", "punct", "words", "stop_hits")
}

/** SimHash64(text): codegen'd one-pass SimHash signature. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    Native.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHashSig(text, k, numHashes): codegen'd one-pass MinHash
  * signature (ARRAY<BIGINT>), null when the text has no tokens.
  */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    Native.minhashSignature(input.asInstanceOf[UTF8String], k, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the function itself may return null (token-less text), so the
    // standard defineCodeGen null contract is extended with a post-check
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.Native.minhashSignature(${childGen.value}, $k, $numHashes);
          ${ev.isNull} = (${ev.value} == null);
        }
      """
    ev.copy(code = code)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** NgramJaccard(a, b, n): codegen'd one-pass character n-gram
  * Jaccard similarity of two strings.
  */
case class NgramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(StringType, StringType)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Native.ngramJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Native.ngramJaccard($a, $b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NgramJaccard =
    copy(left = l, right = r)
}

/** LshBucket(emb, bits, seed): codegen'd random-hyperplane LSH
  * bucket id over ARRAY<FLOAT> — one fused pass per row.
  */
case class LshBucket(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(FloatType))
  override protected def nullSafeEval(input: Any): Any =
    Native.lshBucket(input.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.lshBucket($c, $bits, $seed)")
  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** CosineSim(a, b): codegen'd cosine over ARRAY<FLOAT>. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Native.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Native.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** CosineSimI8(a, b): codegen'd cosine over ARRAY<TINYINT> — the
  * quantized-index probe scorer (`Similarity.int8Scores`). Callers must
  * pass byte arrays on both sides (int8Scores quantizes the query
  * driver-side and builds byte literals); there is no implicit
  * int→byte narrowing under ANSI type coercion. Bit-identity with the
  * HOF fold is pinned for the quantized-index contract: equal-length,
  * null-free arrays (on length mismatch the native fold truncates to
  * the shorter array where the HOF zip_with returns NULL — same
  * pre-existing divergence as CosineSim, never reachable from
  * quantizeInt8 output).
  */
case class CosineSimI8(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(ArrayType(ByteType), ArrayType(ByteType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Native.cosineI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Native.cosineI8($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimI8 =
    copy(left = l, right = r)
}

/** Fnv1a32(key: BINARY): codegen'd FNV-1a 32-bit as signed int —
  * the reference kafka output's default partitioner hash
  * (kafka.go:216-217 via sarama). `KafkaPartition` casts string keys to
  * binary (UTF-8 bytes, the same bytes sarama hashes).
  */
case class Fnv1a32(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes = Seq(BinaryType)
  override protected def nullSafeEval(input: Any): Any =
    Native.fnv1a32(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.fnv1a32($c)")
  override protected def withNewChildInternal(newChild: Expression): Fnv1a32 =
    copy(child = newChild)
}

/** Murmur2Kafka(key: BINARY): codegen'd Kafka murmur2 as signed int —
  * the reference's Java-client-compatible partitioner hash
  * (kafka.go:456-547).
  */
case class Murmur2Kafka(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes = Seq(BinaryType)
  override protected def nullSafeEval(input: Any): Any =
    Native.murmur2Kafka(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.murmur2Kafka($c)")
  override protected def withNewChildInternal(newChild: Expression): Murmur2Kafka =
    copy(child = newChild)
}
