package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot paths (SURVEY.md §5).
  *
  * The higher-order-function formulations in graft.functions are the
  * semantic reference (and stay engine-neutral for the oracles); these
  * expressions compute the IDENTICAL values — same operation order, same
  * modular arithmetic — as tight codegen'd loops: no per-row array
  * allocation, no boxing, inside WholeStageCodegen. At sf0.1 they cut the
  * vector/hash-bound queries ~10-50×.
  */
object GraftExpressions {
  /** Modulus/base shared with graft.functions.TextHash. */
  val Mod: Long = 1000000007L
  val CharBase: Long = 31L

  /** Wide-space variant for collision-sensitive join keys: largest prime
    * below 2^55 (birthday-collision odds for a 30k-key set ≈ 1e-8, vs 40%
    * at 1e9+7). acc·131 + 255 stays < 2^63 — ANSI-overflow safe. */
  val WideMod: Long = 36028797018963913L
  val WideBase: Long = 131L
}

/** Dot product of two float/double arrays in double precision, summed
  * left-to-right (bit-identical to the sequential fold in
  * graft.functions.VectorFunctions.dotD and to a SQL list_reduce).
  * Mismatched lengths use the common prefix; null elements are not
  * supported (embedding columns carry none — enforced upstream). */
case class FloatDotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemOk(t: DataType) = t == FloatType || t == DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _)) if elemOk(lt) && elemOk(rt) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<float|double> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def elemType(e: Expression) = e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val la = elemType(left) == FloatType; val lb = elemType(right) == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (la) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (lb) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(e: Expression, arr: String, i: String) =
      if (elemType(e) == FloatType) s"(double)$arr.getFloat($i)" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(left, a, i)} * ${get(right, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Polynomial rolling hash over a string's bytes:
  * fold acc = (acc*31 + byte) % 1000000007, seed 0.
  * Byte-identical to graft.functions.TextHash.charPolyHash for ASCII input
  * (all graft normalization output is ASCII); the tight byte loop replaces
  * one sequence+transform+substr allocation chain PER ROW. */
case class PolyHash(
    child: Expression,
    base: Long = GraftExpressions.CharBase,
    mod: Long = GraftExpressions.Mod) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hashBytes(input.asInstanceOf[UTF8String].getBytes, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHash.hashBytes($c.getBytes(), ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash {
  /** Shared by interpreted eval and generated code. */
  def hashBytes(bytes: Array[Byte], base: Long, mod: Long): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * base + (bytes(i) & 0xff)) % mod
      i += 1
    }
    acc
  }
}

/** [[PolyHash]] mapped over an array<string> in one expression — hashes a
  * document's whole shingle array without lambda-function plumbing. Null
  * elements map to null. */
case class PolyHashArray(
    child: Expression,
    base: Long = GraftExpressions.CharBase,
    mod: Long = GraftExpressions.Mod) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_poly_hash_array"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Any](arr.numElements())
    var i = 0
    while (i < out.length) {
      if (!arr.isNullAt(i)) out(i) = PolyHash.hashBytes(arr.getUTF8String(i).getBytes, base, mod)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val vals = ctx.freshName("vals")
      s"""
         |int $n = $c.numElements();
         |Object[] $vals = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    $vals[$i] = graft.plans.PolyHash.hashBytes($c.getUTF8String($i).getBytes(), ${base}L, ${mod}L);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($vals);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Normalize + tokenize + distinct word-n-gram shingles in ONE expression:
  * lower → collapse non-alphanumeric runs to single spaces → trim → split
  * → n-grams joined by spaces → distinct (first-occurrence order).
  * Value-identical to the graft.functions.TextHash HOF chain
  * (normText/wordsOf/shinglesFromWords) and to the SQL-oracle derivation.
  *
  * Being ONE opaque expression also stops projection collapse from
  * inlining the normalize/split chain into every element access after an
  * explode — the pathology that made posting-list generation O(shingles ×
  * splits) instead of O(docs). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordShingles.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")

  def shingles(text: UTF8String, n: Int): GenericArrayData = {
    // same semantics as lower → regexp_replace('[^a-z0-9]+', ' ') → trim
    val norm = NonAlnum.matcher(text.toString.toLowerCase(java.util.Locale.ROOT))
      .replaceAll(" ").trim
    val words = norm.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** Positional k-word window hashes in ONE pass: normalize → split →
  * for every window start position p (0-based), the wide polynomial hash
  * of the space-joined k-gram — value-identical to
  * `wideHash(concat_ws(' ', slice(words, p+1, k)))` over
  * `wordsOf(text)`, without materializing a gram string per window (the
  * hash folds straight over the word bytes with a 0x20 separator). The
  * hot path of the d9b span operator: its HOF formulation built
  * O(windows) struct/string allocations per document.
  * Output: array<struct<p:int, h:bigint>>; empty when the doc has fewer
  * than k words. */
case class WordWindowHashes(
    child: Expression,
    k: Int,
    base: Long = GraftExpressions.WideBase,
    mod: Long = GraftExpressions.WideMod) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_window_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WordWindowHashes.windowHashes(input.asInstanceOf[UTF8String], k, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.WordWindowHashes.windowHashes($c, $k, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordWindowHashes {
  private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")

  def windowHashes(text: UTF8String, k: Int, base: Long, mod: Long): GenericArrayData = {
    val norm = NonAlnum.matcher(text.toString.toLowerCase(java.util.Locale.ROOT))
      .replaceAll(" ").trim
    val words = norm.split(" ", -1)
    if (words.length < k) return new GenericArrayData(Array.empty[Any])
    val wb = new Array[Array[Byte]](words.length)
    var w = 0
    while (w < wb.length) {
      wb(w) = words(w).getBytes(java.nio.charset.StandardCharsets.UTF_8); w += 1
    }
    val out = new Array[Any](words.length - k + 1)
    var p = 0
    while (p <= words.length - k) {
      var acc = 0L
      var j = 0
      while (j < k) {
        if (j > 0) acc = (acc * base + 0x20L) % mod // the ' ' separator byte
        val bs = wb(p + j)
        var i = 0
        while (i < bs.length) {
          acc = (acc * base + (bs(i) & 0xff)) % mod
          i += 1
        }
        j += 1
      }
      out(p) = org.apache.spark.sql.catalyst.InternalRow(p, acc)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Random-hyperplane LSH signature for one hash table: bit p of the
  * result is the sign of vec · plane(table·nPlanes + p), with the
  * deterministic integer plane coefficients of
  * [[LshSignature.coef]]. One expression node replaces
  * nPlanes × dims literal-array dot products — the composed form's
  * thousands of codegen nodes dominated the query's wall time. */
case class LshSignature(child: Expression, nPlanes: Int, table: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_sig"

  private def elemOk(t: DataType) = t == FloatType || t == DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if elemOk(t) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<float|double>, got ${t.catalogString}")
  }

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val v = new Array[Double](arr.numElements())
    var i = 0
    while (i < v.length) { v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i); i += 1 }
    LshSignature.signature(v, nPlanes, table)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val conv = if (isFloat) "Float" else "Double"
    defineCodeGen(ctx, ev,
      c => s"graft.plans.LshSignature.signature$conv($c, $nPlanes, $table)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignature {
  /** Deterministic pseudo-random hyperplane coefficient for (plane p,
    * dim d): an integer in [-504, 504] from modular arithmetic — engine
    * neutral and seedless (reproducible across runs). */
  def coef(p: Int, d: Int): Double =
    (((p * 2 + 3) * (d + 1) * 7919 + p * 104729 + 13) % 1009 - 504).toDouble

  def signature(v: Array[Double], nPlanes: Int, table: Int): Long = {
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      val g = table * nPlanes + p
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * coef(g, d); d += 1 }
      if (dot > 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  def signatureFloat(arr: ArrayData, nPlanes: Int, table: Int): Long = {
    val v = new Array[Double](arr.numElements())
    var i = 0
    while (i < v.length) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    signature(v, nPlanes, table)
  }

  def signatureDouble(arr: ArrayData, nPlanes: Int, table: Int): Long = {
    val v = new Array[Double](arr.numElements())
    var i = 0
    while (i < v.length) { v(i) = arr.getDouble(i); i += 1 }
    signature(v, nPlanes, table)
  }
}

/** MinHash signature in one pass: for each of k affine permutations
  * h_i(x) = ((2i+3)·x + (5i+7)) % 1000000007, the minimum over the input
  * hash array. Value-identical to graft.functions.TextHash.minhashSigHof
  * (which allocates k transformed arrays per row; this computes the k
  * running minima in a single scan — the d3 signature stage drops from
  * dominant cost to noise). Empty input → array of nulls (as array_min
  * over an empty transform yields null per band). */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<bigint>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    MinHashSignature.signature(arr.toLongArray(), k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.MinHashSignature.signature($c.toLongArray(), $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  def signature(xs: Array[Long], k: Int): GenericArrayData = {
    val out = new Array[Any](k)
    if (xs.length > 0) {
      var i = 0
      while (i < k) {
        val a = i.toLong * 2L + 3L; val b = i.toLong * 5L + 7L
        var mn = Long.MaxValue
        var j = 0
        while (j < xs.length) {
          val v = (a * xs(j) + b) % GraftExpressions.Mod
          if (v < mn) mn = v
          j += 1
        }
        out(i) = mn
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** Equi-depth bucket id of a double against PRECOMPUTED sorted cut points
  * (the skew-robust half of z-order bucketing): bucket = count of cut
  * points ≤ v, by binary search against a generator-referenced boundaries
  * array — O(log nBuckets) per row inside WholeStageCodegen, where the
  * naive sum-of-comparisons form costs O(nBuckets) and a linear min/max
  * scale collapses under heavy-hitter skew. Ties step past the duplicate
  * run so every row with the same value lands in the same bucket. */
case class QuantileBucket(child: Expression, boundaries: Array[Double])
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_quantile_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs double, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    QuantileBucket.bucketOf(boundaries, input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qbBounds", boundaries, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.QuantileBucket.bucketOf($ref, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantileBucket {
  /** Shared by interpreted eval and generated code: index after the last
    * cut point ≤ v (duplicate cut points — a heavy hitter spanning many
    * quantiles — count once per position, so the bucket id still lands
    * right of the whole run). */
  def bucketOf(bs: Array[Double], v: Double): Long = {
    var p = java.util.Arrays.binarySearch(bs, v)
    if (p < 0) p = -(p + 1)
    else { while (p < bs.length && bs(p) == v) p += 1 }
    p.toLong
  }
}

/** Hive partition VALUE from a scanned file path — the hot projection
  * of a Hive-CONVERTed table's read
  * ([[graft.sources.VersionedTable]]'s synthHiveParts): the decoded
  * value of the LAST `(p__)?<name>=<val>/` DIRECTORY segment in the
  * path, null when absent or the Hive null marker. Equivalent to the
  * reference formulation
  * `url_decode(url_decode(regexp_replace(regexp_extract(path,
  * ".*&#47;(?:p__)?<name>=([^/]+)/.*", 1), "\\+", "%2B")))` — twice,
  * because the scanned `_metadata.file_path` is URI-encoded ON TOP of
  * Hive's value escaping — with the ""/null-marker guards, and
  * without evaluating the regexes plus percent-decodes PER ROW for a
  * value that is CONSTANT PER FILE: a
  * one-entry last-path memo (per expression instance / generated
  * class) reduces the per-row cost to one cached-string equality,
  * which is what a 100 TB converted-table scan can afford. The memo
  * is correctness-neutral: same path bytes, same value. */
case class HivePartValue(child: Expression, name: String)
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hive_part_value"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs string, got ${t.catalogString}")
  }

  // Spark deserializes a fresh expression tree per task, so this memo is
  // normally single-threaded; the (path, result) pair is still published
  // as ONE volatile tuple write so that even a shared instance can never
  // serve a torn pair (another file's path with this file's value) — the
  // worst case under contention is a redundant recompute, never a wrong
  // value. The codegen road needs no such care: generated classes are
  // per-task by construction.
  @transient @volatile
  private var memo: (UTF8String, UTF8String) = _

  override protected def nullSafeEval(input: Any): Any = {
    val p = input.asInstanceOf[UTF8String]
    val m = memo
    if (m != null && p.equals(m._1)) m._2
    else {
      val res = HivePartValue.extract(p, name)
      memo = (p.clone(), res)
      res
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lastPath = ctx.addMutableState("UTF8String", "graftHpvPath")
    val lastRes = ctx.addMutableState("UTF8String", "graftHpvRes")
    val primed = ctx.addMutableState("boolean", "graftHpvPrimed")
    val nameRef = ctx.addReferenceObj("graftHpvName", name, "java.lang.String")
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${childGen.isNull}) {
        if (!$primed || !$lastPath.equals(${childGen.value})) {
          $lastPath = ${childGen.value}.clone();
          $lastRes = graft.plans.HivePartValue.extract($lastPath, $nameRef);
          $primed = true;
        }
        ${ev.value} = $lastRes;
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HivePartValue {
  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** Shared by interpreted eval and generated code. Scans for the LAST
    * acceptable segment (deeper dirs win — a `name=` above the table
    * root can't shadow the true partition dir), requiring a `/` right
    * before the name (optionally through a `p__` prefix) and a
    * non-empty value closed by `/` — exactly the reference regex's
    * admission. */
  def extract(path: UTF8String, name: String): UTF8String = {
    val s = path.toString
    val needle = name + "="
    var from = s.length
    var found: String = null
    while (found == null && from > 0) {
      val i = s.lastIndexOf(needle, from - 1)
      if (i < 0) from = 0
      else {
        val plainStart = i >= 1 && s.charAt(i - 1) == '/'
        val prefStart = i >= 4 && s.startsWith("p__", i - 3) &&
          s.charAt(i - 4) == '/'
        val vStart = i + needle.length
        val slash = s.indexOf('/', vStart)
        if ((plainStart || prefStart) && slash > vStart)
          found = s.substring(vStart, slash)
        else from = i
      }
    }
    if (found == null || found == HiveNull) null
    else {
      // TWO decode layers: `_metadata.file_path` is the URI-encoded
      // path (a literal `%` on disk arrives as `%25`), so the first
      // pass recovers the ON-DISK dir segment and the second undoes
      // Hive's %XX value escaping — landing on exactly the value the
      // prune/drop side computes from the manifest's raw refs
      // (VersionedTable.partRawValues → this object's decode, ONE
      // pass, because refs carry the on-disk bytes directly). A
      // single pass here served `caf%C3%A9` for an escaped dir while
      // DELETE matched `café` — a silent partition-DML no-op.
      UTF8String.fromString(decode(decode(found)))
    }
  }

  /** Exact twin of `url_decode` over a '+'-shielded input: `%XX` runs
    * decode as UTF-8 bytes, '+' stays literal (Hive path escaping never
    * form-encodes spaces). Convert refuses malformed escapes up front;
    * a malformed one reaching here anyway degrades to the raw text.
    * PUBLIC because it is the single source of truth for partition-value
    * decoding: the planner-side paths (partition pruning, partition
    * drop, convert-time type inference) must decode a dir segment to
    * EXACTLY the value this expression serves at read time, or a
    * multi-byte escape (`d=caf%C3%A9`) makes DELETE's prune decision
    * disagree with SELECT's synthesized value. */
  def decode(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Byte](in.length)
    def hex(b: Byte): Int = Character.digit(b.toChar, 16)
    var i = 0
    var o = 0
    while (i < in.length) {
      val b = in(i)
      if (b == '%'.toByte && i + 2 < in.length &&
          hex(in(i + 1)) >= 0 && hex(in(i + 2)) >= 0) {
        out(o) = ((hex(in(i + 1)) << 4) | hex(in(i + 2))).toByte
        o += 1; i += 3
      } else { out(o) = b; o += 1; i += 1 }
    }
    new String(out, 0, o, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Per-file deletion-vector probe — the SCAN-INTEGRATED mask road
  * ([[graft.sources.DvBitmaps]]): TRUE iff `(file, pos)` is deleted
  * according to the version's per-file bitmap sidecar under `dir`.
  * Used as `filter(!DvMasked(...))` by the masked read above the
  * broadcast threshold: the predicate evaluates file-locally inside
  * WholeStageCodegen (a static call into the thread-cached bitmap),
  * so the data side needs NO exchange — where the join form shuffles
  * the entire scan on (file, pos). Non-deterministic-free and
  * side-effect-free: the sidecar is immutable once its version is
  * published. Mirrors Delta's per-AddFile deletion-vector application
  * inside the scan.
  *
  * `identity` is the masked version's commit-marker mtime — part of the
  * executor-side bitmap cache key, so a table deleted and recreated at
  * the same root/version can never be served the dead incarnation's
  * cached bitmaps by a long-lived executor thread.
  *
  * `hconf` (second parameter list: carried by the node, outside case
  * equality) is the DRIVER'S Hadoop conf — executors resolve the
  * sidecar's filesystem with it, because their classpath defaults lack
  * per-store settings (object-store credentials, endpoints). */
case class DvMasked private[plans] (
    dirs: Seq[String], identity: Long, file: Expression, pos: Expression)(
    val hconf: org.apache.spark.util.SerializableConfiguration)
  extends BinaryExpression {

  override def left: Expression = file
  override def right: Expression = pos
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_dv_masked"

  // second-param-list field: name it for the tree printer / canonicalizer
  override def otherCopyArgs: Seq[AnyRef] = hconf :: Nil

  override def checkInputDataTypes(): TypeCheckResult =
    (file.dataType, pos.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (ft, pt) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (string, bigint), got " +
          s"${ft.catalogString}, ${pt.catalogString}")
    }

  override protected def nullSafeEval(f: Any, p: Any): Any =
    graft.sources.DvBitmaps.lookup(
      dirs, identity, f.asInstanceOf[UTF8String], p.asInstanceOf[Long], hconf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dirsRef = ctx.addReferenceObj("dvBitmapDirs", dirs,
      "scala.collection.immutable.Seq")
    val confRef = ctx.addReferenceObj("dvHconf", hconf,
      "org.apache.spark.util.SerializableConfiguration")
    nullSafeCodeGen(ctx, ev, (f, p) =>
      s"${ev.value} = graft.sources.DvBitmaps.lookup($dirsRef, ${identity}L, $f, $p, $confRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(file = newLeft, pos = newRight)(hconf)
}

object DvMasked {
  /** The ONE way to build the probe (the constructor is package-private):
    * the cache-key `identity` (the masked snapshot's commit-marker
    * identity) and the executor-bound Hadoop conf are required here, so
    * no call site can forget either — exactly the omission that once
    * broke the build.
    * `dirs` is the masked version's CHAIN of bitmap dirs, base-first
    * (one element for a full-form mask; ≤ fold-interval under the DV
    * delta chain) — a position is masked when ANY level's bitmap holds
    * it, and levels are disjoint, so order only affects probe cost. */
  def forVersion(
      spark: org.apache.spark.sql.SparkSession,
      identity: Long, dirs: Seq[String],
      file: Expression, pos: Expression): DvMasked =
    DvMasked(dirs.toList, identity, file, pos)(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
}

/** Native BPE tokenizer — the production-scale application road for the
  * trained merges table ([[graft.operators.Bpe]]): input is the
  * NORMALIZED text, output the token array. The replace-fold
  * formulation is the semantic reference (and the oracle's form); this
  * expression computes identical values with a per-word pending-rank
  * loop over a merges table carried as a plan REFERENCE OBJECT — plan
  * size and per-row cost stay constant in the merge count, where the
  * fold grows one nested replace per merge and stops compiling in the
  * hundreds.
  *
  * `fingerprint` sits inside case equality on purpose: the table rides
  * the second parameter list (outside equality, like DvMasked's conf),
  * so without it two tokenizers with different merges would compare
  * equal and subexpression elimination could serve one for the other. */
case class BpeTokens private[plans] (
    child: Expression, fingerprint: Int)(
    val table: graft.operators.BpeTable)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_tokens"
  override def otherCopyArgs: Seq[AnyRef] = table :: Nil

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string input, got ${t.catalogString}")
  }

  override protected def nullSafeEval(t: Any): Any =
    graft.operators.Bpe.encode(t.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      "graft.operators.BpeTable")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.operators.Bpe.encode($t, $tableRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)(table)
}

object BpeTokens {
  /** The ONE way to build the tokenizer: the equality fingerprint is
    * derived from the table here, so no call site can mismatch them. */
  def forMerges(child: Expression, table: graft.operators.BpeTable): BpeTokens =
    BpeTokens(child, table.fingerprint)(table)
}
