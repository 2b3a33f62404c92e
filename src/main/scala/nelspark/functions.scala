package nelspark

import org.apache.spark.sql.{Column, NelShim, SparkSession}
import nelspark.expr._

/**
 * Column-level API for nelspark's custom Catalyst expressions
 * (SURVEY.md §2.7 / §2.11). Mirrors `org.apache.spark.sql.functions`
 * style: import nelspark.functions._ and compose with built-ins.
 */
object functions {
  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    NelShim.column(e)
  private def e(col: Column) = NelShim.expression(col)

  /** DuckDB-compatible Jaro-Winkler similarity (F4). */
  def jaro_winkler(a: Column, b: Column): Column = c(JaroWinkler(e(a), e(b)))

  /** 1 - levenshtein/maxlen in [0,1] (F3 scorer form). */
  def levenshtein_ratio(a: Column, b: Column): Column = c(LevenshteinRatio(e(a), e(b)))

  /** Blocking-key name normalization (P4). */
  def normalize_name(a: Column): Column = c(NormalizeName(e(a)))

  /** Deterministic HTML → text (P1, byte-identical invariant). */
  def extract_text(html: Column): Column = c(ExtractText(e(html)))

  /** Distinct char n-grams (P7). */
  def char_ngrams(a: Column, n: Int): Column = c(CharNGrams(e(a), n))

  /** MinHash signature over array<string> (F8). */
  def minhash_signature(terms: Column, k: Int, seed: Long): Column =
    c(MinHashSignature(e(terms), k, seed))

  /** Fused char-n-gram MinHash signature (allocation-free hot path). */
  def minhash_ngrams(text: Column, n: Int, k: Int, seed: Long): Column =
    c(MinHashNgrams(e(text), n, k, seed))

  /** LSH band keys over a signature (B2). */
  def minhash_bands(sig: Column, bands: Int): Column = c(MinHashBands(e(sig), bands))

  /** 64-bit SimHash of a term array. */
  def simhash64(terms: Column): Column = c(SimHash64(e(terms)))

  /** Rolling-hash document fingerprint, token window w. */
  def doc_fingerprint(text: Column, w: Int = 5): Column = c(DocFingerprint(e(text), w))

  /** Dense cosine over array<float> embeddings. */
  def cosine_sim(a: Column, b: Column): Column = c(CosineSimFloat(e(a), e(b)))

  /** Capitalized-span mention spans: array<struct<begin,end,name>> (P3). */
  def extract_mentions(text: Column): Column = c(ExtractMentions(e(text)))

  /** All sign-LSH bucket keys (one long per table) of an array<float>. */
  def sign_lsh_buckets(vec: Column, tables: Int, bits: Int, seed: Long): Column =
    c(SignLshBuckets(e(vec), tables, bits, seed))

  /** Indices of the nprobe nearest centroids (cosine) against a
    * driver-resident centroid matrix — map-side IVF assignment/probing. */
  def nearest_cells(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column =
    c(NearestCells(e(vec), centroids, nprobe))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = c(HammingDist64(e(a), e(b)))

  /** Character-set Jaccard (DuckDB `jaccard()` semantics). */
  def char_jaccard(a: Column, b: Column): Column = c(CharSetJaccard(e(a), e(b)))

  /** Merge-scan sparse dot over parallel primitive (hash, weight) arrays. */
  def sparse_dot_arrays(ha: Column, wa: Column, hb: Column, wb: Column): Column =
    c(SparseDotArrays(e(ha), e(wa), e(hb), e(wb)))

  /** Term frequencies of an array<string> of tokens:
    * array<struct<term, tf: double>> over its distinct non-empty tokens. */
  def term_counts(tokens: Column): Column = c(TermCounts(e(tokens)))

  /** Register all custom expressions as SQL functions on this session. */
  def registerAll(spark: SparkSession): Unit = {
    NelShim.registerFunction(spark, "jaro_winkler", xs => JaroWinkler(xs(0), xs(1)))
    NelShim.registerFunction(spark, "levenshtein_ratio", xs => LevenshteinRatio(xs(0), xs(1)))
    NelShim.registerFunction(spark, "normalize_name", xs => NormalizeName(xs(0)))
    NelShim.registerFunction(spark, "extract_text", xs => ExtractText(xs(0)))
    NelShim.registerFunction(spark, "extract_mentions", xs => ExtractMentions(xs(0)))
    NelShim.registerFunction(spark, "simhash64", xs => SimHash64(xs(0)))
  }
}
