package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions for the dedup pipeline. The higher-order-
  * function formulations (nested `transform`/`aggregate`) are evaluated
  * per element by the interpreter — measured at sf0.1: 36 s for the
  * 128-hash MinHash signature and 282 s for SimHash (5000 docs × ~400
  * shingles × 128/62 inner lambdas, all boxed). These expressions run
  * the same loops as compiled Scala over zero-copy UTF8String bytes —
  * the whole signature stage collapses to under a second — and
  * participate in whole-stage codegen via a static kernel call (the
  * generated code calls `MinHashSig.compute` / `SimHash62.compute`, so
  * there is no interpreted fallback in the hot path).
  */
object SketchKernels {

  /** xxhash64 of a UTF8String's bytes with the hash-family index as
    * seed — one independent hash family per signature slot, zero-copy
    * over the string's backing memory.
    */
  @inline private def xx(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** k-slot MinHash signature over the (distinct) shingle array. */
  def minhash(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) { // null shingles are absent, not a crash
        var i = 0
        while (i < k) {
          val h = xx(s, i.toLong)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** k-slot MinHash signature over a (distinct) LONG array — the hashed-
    * shingle variant used by the banded n-gram path (q42b): slot i =
    * min over elements of xxhash64(element, seed = i). Same estimator
    * contract as the string form (k independent hash families), one
    * `hashLong` per (element, slot) instead of a byte-range hash.
    */
  def minhashLongs(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) { // null elements are absent, not hash(0)
        val v = arr.getLong(j)
        var i = 0
        while (i < k) {
          val h = XXH64.hashLong(v, i.toLong)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** 62-bit SimHash, bit-compatible with the md5-derived SQL/oracle
    * formulation in DedupQueries.q43: per shingle, h1/h2 are the first
    * and second 4 bytes of md5 (big-endian unsigned — identical to
    * parsing hex chars 1-8 and 9-16); bit bb comes from h1 for bb<31,
    * h2 for bb>=31; each bit votes ±1; sign packs the signature.
    */
  def simhash62(arr: ArrayData): Long = {
    val votes = new Array[Int](62)
    val md = MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val sj = arr.getUTF8String(j)
      if (sj == null) { j += 1 } else { // null shingles are absent
      md.reset()
      val d = md.digest(sj.getBytes)
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var bb = 0
      while (bb < 62) {
        val bit = if (bb < 31) (h1 >> bb) & 1L else (h2 >> (bb - 31)) & 1L
        votes(bb) += (if (bit == 1L) 1 else -1)
        bb += 1
      }
      j += 1
      }
    }
    var sig = 0L
    var bb = 0
    while (bb < 62) {
      if (votes(bb) > 0) sig |= 1L << bb
      bb += 1
    }
    sig
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Winnowing fingerprints (Schleimer et al., SIGMOD '03): DISTINCT
    * sliding-window minima over the md5 hex k-gram stream of `text` —
    * gram i = md5(substring(text, i, k)) (code-point indexed via
    * `substringSQL`, exactly Spark's `substring`), window w, minima by
    * lexicographic hex compare (= StringType min). One pass with a
    * monotonic deque: O(ng) compares instead of the O(ng·w) interpreted
    * slice+array_min HOF (measured 2× SLOWER than the WindowExec it
    * replaced) or the sort+shuffle of min-over-window on the exploded
    * gram stream (the round-15 shape, super-linear at the sf1 probe).
    */
  def winnowMins(text: UTF8String, k: Int, w: Int): ArrayData = {
    val ng = text.numChars() - k + 1
    if (ng < w) return new GenericArrayData(Array.empty[AnyRef])
    val md = MessageDigest.getInstance("MD5")
    val grams = new Array[String](ng)
    var i = 0
    while (i < ng) {
      val d = md.digest(text.substringSQL(i + 1, k).getBytes)
      md.reset()
      val cs = new Array[Char](32)
      var b = 0
      while (b < 16) {
        cs(b * 2) = hexDigits((d(b) >> 4) & 0xf)
        cs(b * 2 + 1) = hexDigits(d(b) & 0xf)
        b += 1
      }
      grams(i) = new String(cs)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val dq = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < ng) {
      while (!dq.isEmpty && grams(dq.peekLast) >= grams(i)) dq.pollLast()
      dq.addLast(i)
      if (i >= w - 1) {
        while (dq.peekFirst <= i - w) dq.pollFirst()
        seen.add(UTF8String.fromString(grams(dq.peekFirst)))
      }
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Distinct 3-word shingles: words[i..i+2] joined by ' ', first-
    * occurrence order (order is irrelevant downstream — min/vote/set-
    * cardinality consumers only). Same strings as the SQL
    * `concat_ws(' ', ws[i], ws[i+1], ws[i+2])` formulation the oracles
    * mirror.
    */
  def shingles3(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val cnt = math.max(0, n - 2)
    val seen = new java.util.LinkedHashSet[UTF8String](cnt * 2)
    val space = UTF8String.fromString(" ")
    val empty = UTF8String.EMPTY_UTF8
    def at(j: Int): UTF8String = {
      val w = arr.getUTF8String(j)
      if (w == null) empty else w // null words read as "" (split() never emits null; SQL callers might)
    }
    var i = 0
    while (i < cnt) {
      seen.add(UTF8String.concat(at(i), space, at(i + 1), space, at(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Distinct character-trigram hashes of a string: the long-domain
    * stand-in for the trigram STRING set — set algebra (intersect/union
    * cardinalities, so Jaccard) is identical as long as xxhash64 is
    * collision-free on the document's trigram vocabulary (a few
    * thousand distinct trigrams vs a 2⁶⁴ space; the DuckDB oracle
    * computes Jaccard on the actual strings, so any collision would
    * fail the gate rather than pass silently). CODE-POINT indexed like
    * SQL substr: supplementary (non-BMP) characters count as one
    * position, never split across UTF-16 surrogate halves — matching
    * DuckDB's code-point `substr` on any input, not just BMP text.
    */
  def trigramHashes(s: UTF8String): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](math.max(0, n - 2))
    var i = 0
    while (i < n - 2) {
      val b = new String(cps, i, 3).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Sum of absolute byte differences (SAD — the classic scene-cut
    * metric) over two byte frames, bytes compared UNSIGNED (0..255).
    * Bit-identical to the hex formulation it replaces
    * (Σ |conv(substr(hex(a),2i+1,2),16,10) − conv(...b...)| over equal
    * 32-byte frames) with zero string materialization and no
    * interpreted higher-order lambda per frame pair. Frames must be of
    * equal length; [[SadBytes]] returns NULL otherwise, as the hex
    * formulation does.
    */
  def sadBytes(a: Array[Byte], b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) {
      s += math.abs((a(i) & 0xff) - (b(i) & 0xff))
      i += 1
    }
    s
  }

  /** Intersection cardinality of two SORTED long arrays — two-pointer
    * merge, zero allocation. With |A∪B| = |A|+|B|−|A∩B| this gives
    * Jaccard without materializing the union array (the built-in
    * array_intersect/array_union pair builds two hash sets and an
    * output array per PAIR — GBs of garbage on an n² verify join).
    * Inputs must be sorted ascending and duplicate-free (sort_array
    * over a distinct-hash array).
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var cnt = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  /** Occurrence count of `set` members in `arr` — one hash-set probe per
    * element, zero-copy over the UTF8String views. Replaces the
    * interpreted `size(filter(ws, w -> w IN (...)))` lambda that
    * dominated the text-profile queries (one boxed per-element closure
    * call per word per profile).
    */
  def countIn(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var i = 0; var c = 0
    while (i < n) {
      if (set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** One-pass multi-profile occurrence count: counts(k) = number of
    * elements of `arr` present in profile k, with ONE hash probe per
    * element regardless of profile count (the per-profile
    * `word_set_count` column stack re-walks the array once per
    * profile). `index` maps word → indices of the profiles containing
    * it (a word may appear in several).
    */
  def countMulti(arr: ArrayData,
      index: java.util.HashMap[UTF8String, Array[Int]], nSets: Int): ArrayData = {
    val counts = new Array[Int](nSets)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val hits = index.get(arr.getUTF8String(i))
      if (hits != null) {
        var j = 0
        while (j < hits.length) { counts(hits(j)) += 1; j += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** BPE-ish subword estimate: Σ ⌈codePoints(w)/4⌉ — the compiled
    * replacement for the interpreted `aggregate(ws, 0, (acc, w) -> …)`
    * lambda (one boxed closure call per word). Code-point length
    * matches SQL `char_length` / DuckDB `length` on any input, not
    * just BMP text.
    */
  def subwordEst(arr: ArrayData): Int = {
    val n = arr.numElements()
    var i = 0; var acc = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      if (w != null) acc += (w.numChars() + 3) / 4 // null words count 0
      i += 1
    }
    acc
  }

  /** Rolling 5-gram hashes for winnowing fingerprints, bit-compatible
    * with the SQL/oracle formulation in TextQueries.q51: hash of gram i
    * = first 15 hex chars of md5(words[i..i+4] joined by ' ') as a
    * base-16 integer — i.e. the big-endian u64 of md5 bytes 0..7
    * shifted right one nibble (always < 2⁶⁰, so never negative).
    */
  def gram5Md5(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val cnt = math.max(0, n - 4)
    val out = new Array[Long](cnt)
    val md = MessageDigest.getInstance("MD5")
    val space = ' '.toByte
    var i = 0
    while (i < cnt) {
      md.reset()
      var j = 0
      while (j < 5) {
        if (j > 0) md.update(space)
        val w = arr.getUTF8String(i + j)
        if (w != null) md.update(w.getBytes) // null words read as ""
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `minhash_sig(shingles, k)` — ArrayType(StringType | LongType) →
  * ArrayType(LongType). String elements hash their UTF-8 bytes; long
  * elements (pre-hashed shingles, e.g. `trigram_hashes` output) hash the
  * 8-byte value — both give k independent families per slot.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val overLongs: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType | LongType, _), IntegerType) if right.foldable =>
        val k = right.eval().asInstanceOf[Int]
        if (k > 0 && k <= 4096) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"minhash_sig: k must be in 1..4096, got $k")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires (ARRAY<STRING> | ARRAY<BIGINT>, literal INT), got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, k: Any): Any =
    if (overLongs) SketchKernels.minhashLongs(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])
    else SketchKernels.minhash(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (overLongs) "minhashLongs" else "minhash"
    nullSafeCodeGen(ctx, ev, (a, k) =>
      s"${ev.value} = graft.functions.SketchKernels.$kernel($a, $k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

/** `shingles3(words)` — ArrayType(StringType) → ArrayType(StringType), distinct. */
case class Shingles3(child: Expression) extends UnaryExpression {

  override def prettyName: String = "shingles3"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"shingles3 requires ARRAY<STRING>, got ${t.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    SketchKernels.shingles3(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SketchKernels.shingles3($a)")

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** `winnow_mins(text, k, w)` — StringType → ArrayType(StringType):
  * distinct winnowing fingerprints (md5 hex window minima). k/w are
  * int literals (gram size, window).
  */
case class WinnowMins(first: Expression, second: Expression, third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def prettyName: String = "winnow_mins"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"winnow_mins requires (STRING, INT, INT), got $t")
    }

  override def nullSafeEval(t: Any, k: Any, w: Any): Any =
    SketchKernels.winnowMins(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.SketchKernels.winnowMins($a, $b, $c)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowMins =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `trigram_hashes(text)` — StringType → ArrayType(LongType), distinct. */
case class TrigramHashes(child: Expression) extends UnaryExpression {

  override def prettyName: String = "trigram_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"trigram_hashes requires STRING, got ${t.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    SketchKernels.trigramHashes(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SketchKernels.trigramHashes($a)")

  override protected def withNewChildInternal(newChild: Expression): TrigramHashes =
    copy(child = newChild)
}

/** `sad_bytes(a, b)` — two BinaryType frames → LongType SAD; NULL when
  * the frames differ in length (no per-position pairing exists).
  */
case class SadBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "sad_bytes"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sad_bytes requires two BINARY arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    if (x.length != y.length) null else SketchKernels.sadBytes(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SketchKernels.sadBytes($a, $b);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SadBytes =
    copy(left = newLeft, right = newRight)
}

/** `sorted_intersect_count(a, b)` — two sorted ArrayType(LongType) → LongType. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "sorted_intersect_count"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count requires two ARRAY<BIGINT> arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SketchKernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `gram5_md5(words)` — ArrayType(StringType) → ArrayType(LongType). */
case class Gram5Md5(child: Expression) extends UnaryExpression {

  override def prettyName: String = "gram5_md5"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gram5_md5 requires ARRAY<STRING>, got ${t.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    SketchKernels.gram5Md5(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SketchKernels.gram5Md5($a)")

  override protected def withNewChildInternal(newChild: Expression): Gram5Md5 =
    copy(child = newChild)
}

/** `word_set_count(words, array('w1', …))` — occurrences of the LITERAL
  * set's members in the word array, IntegerType. The set is materialized
  * once per expression instance (right side must be foldable) and probed
  * per element in a compiled loop — the codegen'd replacement for the
  * interpreted `size(filter(ws, w -> w IN (...)))` idiom.
  */
case class WordSetCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "word_set_count"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"word_set_count requires (ARRAY<STRING>, literal ARRAY<STRING>), got ${l.sql} and ${r.sql}")
    }

  /** Literal membership set, built once; elements copied out of the
    * literal's backing buffer so the set owns its bytes.
    */
  private lazy val set: java.util.HashSet[UTF8String] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    val s = new java.util.HashSet[UTF8String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      s.add(UTF8String.fromBytes(arr.getUTF8String(i).getBytes))
      i += 1
    }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.countIn(a.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.SketchKernels.countIn($a, $setRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordSetCount =
    copy(left = newLeft, right = newRight)
}

/** `word_multi_count(words, array(array('w1', …), array('v1', …), …))` —
  * occurrence counts of EVERY literal profile in one pass over the word
  * array, ARRAY<INT> (one slot per profile, argument order). The word →
  * profile-indices map is materialized once per expression instance;
  * per row each word costs one hash probe however many profiles exist —
  * the fused replacement for a stack of `word_set_count` columns.
  */
case class WordMultiCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "word_multi_count"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"word_multi_count requires (ARRAY<STRING>, literal ARRAY<ARRAY<STRING>>), got ${l.sql} and ${r.sql}")
    }

  /** word → indices of the profiles containing it, built once; keys
    * copied out of the literal's backing buffer.
    */
  private lazy val (index, nSets) = {
    val sets = right.eval().asInstanceOf[ArrayData]
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    var k = 0
    while (k < sets.numElements()) {
      val set = sets.getArray(k)
      var i = 0
      while (i < set.numElements()) {
        val w = UTF8String.fromBytes(set.getUTF8String(i).getBytes)
        val prev = m.get(w)
        // set semantics per profile (matching word_set_count / IN): a
        // word duplicated WITHIN one literal profile must count once
        if (prev == null) m.put(w, Array(k))
        else if (!prev.contains(k)) m.put(w, prev :+ k)
        i += 1
      }
      k += 1
    }
    (m, sets.numElements())
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.countMulti(a.asInstanceOf[ArrayData], index, nSets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("profileIndex", index, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.SketchKernels.countMulti($a, $mapRef, $nSets);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordMultiCount =
    copy(left = newLeft, right = newRight)
}

/** `subword_est(words)` — ArrayType(StringType) → IntegerType. */
case class SubwordEst(child: Expression) extends UnaryExpression {

  override def prettyName: String = "subword_est"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"subword_est requires ARRAY<STRING>, got ${t.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    SketchKernels.subwordEst(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SketchKernels.subwordEst($a)")

  override protected def withNewChildInternal(newChild: Expression): SubwordEst =
    copy(child = newChild)
}

/** `simhash62(shingles)` — ArrayType(StringType) → LongType. */
case class SimHash62(child: Expression) extends UnaryExpression {

  override def prettyName: String = "simhash62"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"simhash62 requires ARRAY<STRING>, got ${t.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    SketchKernels.simhash62(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SketchKernels.simhash62($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash62 =
    copy(child = newChild)
}
