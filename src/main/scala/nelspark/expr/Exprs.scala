package nelspark.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions (SURVEY.md §2.11): the five operators the
 * reference needs that Spark lacks, plus dedup/fingerprint helpers for the
 * training-data pipeline. All are deterministic, null-intolerant, and
 * generate code that calls the static [[Kernels]] — so they stay inside
 * whole-stage codegen (no CodegenFallback in the hot path).
 */
object ExprHelpers {
  // eval/codegen shared bridges (called from generated Java)
  def jw(a: UTF8String, b: UTF8String): Double =
    Kernels.jaroWinkler(a.toString, b.toString)
  def levRatio(a: UTF8String, b: UTF8String): Double =
    Kernels.levenshteinRatio(a.toString, b.toString)
  def norm(a: UTF8String): UTF8String =
    UTF8String.fromString(Kernels.normalizeName(a.toString))
  def extract(a: Array[Byte]): UTF8String =
    UTF8String.fromString(Kernels.extractText(a))
  def ngrams(a: UTF8String, n: Int): ArrayData =
    new GenericArrayData(Kernels.charNGrams(a.toString, n).map(UTF8String.fromString(_)))
  def minhash(terms: ArrayData, k: Int, seed: Long): ArrayData = {
    val arr = new Array[String](terms.numElements())
    var i = 0
    while (i < arr.length) { arr(i) = terms.getUTF8String(i).toString; i += 1 }
    new GenericArrayData(Kernels.minHashSignature(arr, k, seed))
  }
  def bands(sig: ArrayData, nBands: Int): ArrayData =
    new GenericArrayData(Kernels.minHashBands(sig.toLongArray(), nBands))
  def simhash(terms: ArrayData): Long = {
    val arr = new Array[String](terms.numElements())
    var i = 0
    while (i < arr.length) { arr(i) = terms.getUTF8String(i).toString; i += 1 }
    Kernels.simHash64(arr)
  }
  def fingerprint(text: UTF8String, w: Int): Long =
    Kernels.docFingerprint(Kernels.tokens(text.toString), w)
  /** Dense cosine straight off ArrayData — no per-pair toFloatArray()
    * copies (2 allocations × 50M pairs in the exact dedup baseline).
    * Accumulation order identical to Kernels.cosineFloat (DuckDB-pinned). */
  def cosF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  def mentions(text: UTF8String): ArrayData = {
    val spans = Kernels.extractMentions(text.toString)
    val rows: Array[Any] = spans.map { sp =>
      org.apache.spark.sql.catalyst.InternalRow(
        sp.begin, sp.end, UTF8String.fromString(sp.name)): Any
    }
    new GenericArrayData(rows)
  }
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  def signLsh(vec: ArrayData, tables: Int, bits: Int, seed: Long): ArrayData =
    new GenericArrayData(Kernels.signLshBuckets(vec.toFloatArray(), tables, bits, seed))
  def minhashNgrams(s: UTF8String, n: Int, k: Int, seed: Long): ArrayData =
    new GenericArrayData(Kernels.minHashNgrams(s.toString, n, k, seed))
  def nearestCells(vec: ArrayData, cent: Array[Array[Float]],
      norms: Array[Double], nprobe: Int): ArrayData =
    new GenericArrayData(Kernels.nearestCells(vec.toFloatArray(), cent, norms, nprobe))

  /** Each distinct non-empty, non-null token with its count, in order of
    * first occurrence: one hash count, O(n) in the tokens. */
  def termCounts(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val terms = new Array[UTF8String](n)
    val counts = new Array[Int](n)
    var distinct = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes() > 0) {
          val j = slot.get(t)
          if (j == null) {
            // the token may point into the input row's buffer
            val own = t.clone()
            slot.put(own, distinct)
            terms(distinct) = own
            counts(distinct) = 1
            distinct += 1
          } else counts(j) += 1
        }
      }
      i += 1
    }
    val rows = new Array[Any](distinct)
    i = 0
    while (i < distinct) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(terms(i), counts(i).toDouble)
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Merge-scan dot over parallel primitive arrays (h-sorted). */
  def sparseDotArrays(ha: ArrayData, wa: ArrayData,
      hb: ArrayData, wb: ArrayData): Double = {
    var i = 0; var j = 0
    val na = ha.numElements(); val nb = hb.numElements()
    var dot = 0.0
    while (i < na && j < nb) {
      val x = ha.getLong(i); val y = hb.getLong(j)
      if (x == y) { dot += wa.getFloat(i).toDouble * wb.getFloat(j); i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    dot
  }
}

/** Jaro-Winkler similarity (SURVEY.md §2.7 F4). DuckDB-pinned semantics. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"nelspark.expr.ExprHelpers.jw($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

/** Levenshtein ratio 1 - dist/maxlen (F3 variant used by the scorer). */
case class LevenshteinRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.levRatio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"nelspark.expr.ExprHelpers.levRatio($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "levenshtein_ratio"
}

/** Name-normalization blocking key (P4). */
case class NormalizeName(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.norm(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.norm($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "normalize_name"
}

/** Deterministic HTML → text extraction (P1; byte-identical invariant). */
case class ExtractText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.extract(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.extract($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "extract_text"
}

/** Distinct character n-grams (P7); n is a literal. */
case class CharNGrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.ngrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.ngrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "char_ngrams"
}

/** k-permutation MinHash signature over array<string> (F8/B2). */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.minhash(v.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.minhash($c, $k, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_signature"
}

/** Fused char-n-gram MinHash signature of a string (B2 hot path):
  * equivalent to MinHashSignature(CharNGrams(s, n), k, seed) over the
  * n-gram SET but with a different hash family and zero per-row
  * allocation (sliding char-window hashing, no substrings, no dedup). */
case class MinHashNgrams(child: Expression, n: Int, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.minhashNgrams(v.asInstanceOf[UTF8String], n, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"nelspark.expr.ExprHelpers.minhashNgrams($c, $n, $k, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_ngrams"
}

/** LSH band keys from a MinHash signature (B2). */
case class MinHashBands(child: Expression, nBands: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.bands(v.asInstanceOf[ArrayData], nBands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.bands($c, $nBands)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_bands"
}

/** 64-bit SimHash of a term array (near-dup dedup). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.simhash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** Rolling-hash document fingerprint over tokens, window w. */
case class DocFingerprint(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.fingerprint(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.fingerprint($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "doc_fingerprint"
}

/** Dense cosine similarity over array<float> (embedding ANN path). */
case class CosineSimFloat(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.cosF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"nelspark.expr.ExprHelpers.cosF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim_float"
}

/** Capitalized-span mention extraction (P2+P3): array<struct<begin,end,name>>. */
case class ExtractMentions(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("begin", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.mentions(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.mentions($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "extract_mentions"
}

/** Term frequencies of one document's tokens (TF-IDF, A3):
  * array<struct<term, tf: double>>, one element per distinct non-empty
  * token. Counting inside the row replaces an explode + (doc, term)
  * shuffle of every token. */
case class TermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", DoubleType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.termCounts(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"nelspark.expr.ExprHelpers.termCounts($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "term_counts"
}

/**
 * Sparse dot over vectors packed as PARALLEL PRIMITIVE arrays
 * (hashes: array<long> sorted asc, weights: array<float>). Primitive
 * UnsafeArrayData is ~4× more compact than array<struct<long,double>>
 * through a shuffle, and element access skips struct indirection —
 * this is the hot kernel of pairwise context scoring at scale.
 */
case class SparseDotArrays(ha: Expression, wa: Expression,
    hb: Expression, wb: Expression) extends QuaternaryExpression {
  override def first: Expression = ha
  override def second: Expression = wa
  override def third: Expression = hb
  override def fourth: Expression = wb
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    ExprHelpers.sparseDotArrays(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"nelspark.expr.ExprHelpers.sparseDotArrays($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression = copy(ha = a, wa = b, hb = c, wb = d)
  override def prettyName: String = "sparse_dot_arrays"
}

/**
 * All sign-LSH bucket keys of an array<float> embedding in one pass
 * (ANN scale path): element t = table t's `bits` hyperplane signs packed
 * into a long. Replaces a tables×bits×dim-node Column arithmetic tree
 * (4096 ops at the 16×4×64 operating point — codegen-hostile and 16×
 * the scan) with one cached-plane kernel call.
 */
case class SignLshBuckets(child: Expression, tables: Int, bits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.signLsh(v.asInstanceOf[ArrayData], tables, bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"nelspark.expr.ExprHelpers.signLsh($c, $tables, $bits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sign_lsh_buckets"
}

/**
 * Indices of the `nprobe` nearest centroids (cosine; ties → lowest index)
 * of an array<float> embedding against a driver-resident centroid matrix.
 * The matrix is the IVF coarse-quantizer MODEL (nlist×dim floats,
 * kilobytes) and rides into codegen as a referenced object — so
 * assignment and query-probing are pure map-side work. Replaces the
 * crossJoin(centroids) + row_number window plan that hash-shuffled
 * |corpus|×nlist rows per Lloyd step.
 */
case class NearestCells(child: Expression, centroids: Array[Array[Float]], nprobe: Int)
    extends UnaryExpression {
  // centroid norms computed once (driver, at codegen/serialization time)
  @transient private lazy val norms: Array[Double] =
    centroids.map { cv =>
      var s = 0.0; var i = 0
      while (i < cv.length) { s += cv(i).toDouble * cv(i); i += 1 }
      math.sqrt(s)
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    ExprHelpers.nearestCells(v.asInstanceOf[ArrayData], centroids, norms, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val normRef = ctx.addReferenceObj("centNorms", norms, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"nelspark.expr.ExprHelpers.nearestCells($c, $centRef, $normRef, $nprobe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_cells"
  // the matrix prints as its shape and a content hash: an array prints by
  // JVM identity, so plan dumps of the same model would never match
  override protected def stringArgs: Iterator[Any] = {
    val hash = java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])
    Iterator(child, f"${centroids.length}x${centroids.headOption.fold(0)(_.length)}:$hash%08x", nprobe)
  }
}

/** Character-set Jaccard (DuckDB `jaccard()` semantics). */
case class CharSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.charSetJaccard(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"nelspark.expr.Kernels.charSetJaccard($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "char_jaccard"
}

/** Hamming distance between two 64-bit fingerprints (SimHash dedup). */
case class HammingDist64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.hamming64(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "hamming64"
}
