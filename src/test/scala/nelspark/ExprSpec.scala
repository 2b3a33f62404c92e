package nelspark

import nelspark.expr.Kernels
import nelspark.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

/** Golden vectors + property tests for the custom expressions (SURVEY.md §5.1–5.2). */
class ExprSpec extends SparkSpec {

  // ---- Jaro-Winkler: DuckDB-pinned worked examples (see BASELINE provenance)
  test("jaro_winkler golden vectors (DuckDB 1.0 parity)") {
    val eps = 1e-12
    assert(math.abs(Kernels.jaroWinkler("MARTHA", "MARHTA") - 0.9611111111111111) < eps)
    assert(math.abs(Kernels.jaroWinkler("DIXON", "DICKSONX") - 0.8133333333333332) < eps)
    assert(math.abs(Kernels.jaroWinkler("DWAYNE", "DUANE") - 0.8400000000000001) < eps)
    assert(math.abs(Kernels.jaroWinkler("CRATE", "TRACE") - 0.7333333333333334) < eps)
    assert(math.abs(Kernels.jaroWinkler("aaa", "aaab") - 0.9416666666666667) < eps)
    assert(math.abs(Kernels.jaroWinkler("josh", "jesh") - 0.8500000000000001) < eps)
    assert(Kernels.jaroWinkler("abc", "abc") == 1.0)
    assert(Kernels.jaroWinkler("", "abc") == 0.0)
    assert(Kernels.jaroWinkler("", "") == 0.0) // DuckDB semantics
    assert(Kernels.jaroWinkler("a", "b") == 0.0)
  }

  test("jaro_winkler properties: range, symmetry, identity") {
    val gen = Gen.listOfN(8, Gen.alphaChar).map(_.mkString)
    checkProp(Prop.forAll(gen, gen) { (a: String, b: String) =>
      val s = Kernels.jaroWinkler(a, b)
      s >= 0.0 && s <= 1.0 &&
        math.abs(s - Kernels.jaroWinkler(b, a)) < 1e-12 &&
        (a.isEmpty || Kernels.jaroWinkler(a, a) == 1.0)
    })
  }

  test("levenshtein matches known values + triangle inequality") {
    assert(Kernels.levenshtein("kitten", "sitting") == 3)
    assert(Kernels.levenshtein("", "abc") == 3)
    assert(Kernels.levenshteinRatio("", "") == 1.0)
    val gen = Gen.listOfN(6, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    checkProp(Prop.forAll(gen, gen, gen) { (a: String, b: String, c: String) =>
      Kernels.levenshtein(a, c) <= Kernels.levenshtein(a, b) + Kernels.levenshtein(b, c)
    })
  }

  test("normalize_name: lowercase, diacritics, punctuation, idempotent") {
    assert(Kernels.normalizeName("  José  Álvarez-Núñez ") == "jose alvarez nunez")
    assert(Kernels.normalizeName("J. Q. Smith") == "j q smith")
    assert(Kernels.normalizeName("O'Brien, Jr.") == "o brien jr")
    assert(Kernels.normalizeName("") == "")
    val gen = Gen.listOfN(12, Gen.frequency(
      (5, Gen.alphaChar), (1, Gen.oneOf('é', 'ü', 'ß', '.', '-', ' ', '\'')))).map(_.mkString)
    checkProp(Prop.forAll(gen) { s: String =>
      val n = Kernels.normalizeName(s)
      Kernels.normalizeName(n) == n // idempotent
    })
  }

  test("extract_text golden vectors (the byte-identical contract, FIXTURES.md §3)") {
    def x(h: String): String = Kernels.extractText(h.getBytes("UTF-8"))
    assert(x("<html><head><title>T</title></head><body><p>Hello  world</p></body></html>")
      == "T\nHello world")
    assert(x("<p>a &amp; b &lt;c&gt; &quot;d&quot; &#65; &#x42;</p>") == "a & b <c> \"d\" A B")
    assert(x("<script>var x = '<p>no</p>';</script><p>yes</p>") == "yes")
    assert(x("<style>p{color:red}</style><div>kept</div>") == "kept")
    assert(x("<p>a<b>bold</b>c</p>") == "aboldc") // inline tags: no space
    assert(x("<p>漢字 ütf</p>") == "漢字 ütf")
    assert(x("") == "")
    assert(x("<p></p>") == "")
    assert(x("<p>line1</p><p>line2</p>") == "line1\nline2")
    assert(x("<p>trailing <") == "trailing")
    assert(x("a &unknown; b") == "a &unknown; b")
  }

  test("char_ngrams: distinct, ordered, short-string fallback") {
    assert(Kernels.charNGrams("abcd", 3).toSeq == Seq("abc", "bcd"))
    assert(Kernels.charNGrams("aaaa", 2).toSeq == Seq("aa"))
    assert(Kernels.charNGrams("ab", 3).toSeq == Seq("ab"))
    assert(Kernels.charNGrams("", 3).isEmpty)
  }

  test("minhash: deterministic, band collision implies shared sig prefix band") {
    val a = Kernels.minHashSignature(Array("ab", "bc", "cd"), 12, 42L)
    val b = Kernels.minHashSignature(Array("ab", "bc", "cd"), 12, 42L)
    assert(a.toSeq == b.toSeq)
    val c = Kernels.minHashSignature(Array("xy", "yz"), 12, 42L)
    assert(a.toSeq != c.toSeq)
    assert(Kernels.minHashBands(a, 4).length == 4)
  }

  test("minhash_ngrams: deterministic, multiset-invariant, window semantics") {
    // duplicates of an n-gram never change a min — same distinct gram set
    // ("abcabc" and "abcabcabc" both have 3-grams {abc,bca,cab})
    val a = Kernels.minHashNgrams("abcabc", 3, 12, 42L)
    val b = Kernels.minHashNgrams("abcabcabc", 3, 12, 42L)
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq == Kernels.minHashNgrams("abcabc", 3, 12, 42L).toSeq)
    // short-string fallback: the whole string is the single gram
    val s = Kernels.minHashNgrams("ab", 3, 12, 42L)
    assert(s.toSeq == Kernels.minHashNgrams("ab", 5, 12, 42L).toSeq)
    // empty input -> sentinel signature
    assert(Kernels.minHashNgrams("", 3, 4, 42L).toSeq == Seq.fill(4)(Long.MaxValue))
    // different text -> different signature
    assert(a.toSeq != Kernels.minHashNgrams("xyzxyz", 3, 12, 42L).toSeq)
  }

  test("minhash band collision rate grows with Jaccard (statistical)") {
    // identical sets always collide on every band
    val s1 = Kernels.minHashSignature(Array("a", "b", "c"), 12, 7L)
    val s2 = Kernels.minHashSignature(Array("a", "b", "c"), 12, 7L)
    assert(Kernels.minHashBands(s1, 4).toSeq == Kernels.minHashBands(s2, 4).toSeq)
    // near-identical n-gram sets of a typo pair share ≥1 band (statistically certain
    // for 4 bands × 3 rows at J≈0.85; fixed seed makes this deterministic)
    val n1 = Kernels.charNGrams("jonathan smithers", 3)
    val n2 = Kernels.charNGrams("jonathan smither", 3)
    val b1 = Kernels.minHashBands(Kernels.minHashSignature(n1, 12, 42L), 4)
    val b2 = Kernels.minHashBands(Kernels.minHashSignature(n2, 12, 42L), 4)
    assert(b1.zip(b2).exists { case (x, y) => x == y })
  }

  test("extract_mentions: capitalized spans with offsets") {
    val t = "the Quick Brown fox met J. Q. Smith in paris"
    val spans = Kernels.extractMentions(t)
    assert(spans.map(_.name).toSeq == Seq("Quick Brown", "J. Q. Smith"))
    spans.foreach(sp => assert(t.substring(sp.begin, sp.end) == sp.name))
    assert(Kernels.extractMentions("all lower case words").isEmpty)
    assert(Kernels.extractMentions("Ends With Cap").map(_.name).toSeq == Seq("Ends With Cap"))
  }

  test("expressions work as Columns inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX")).toDF("a", "b")
    val got = df.select(
      jaro_winkler($"a", $"b").as("jw"),
      levenshtein_ratio($"a", $"b").as("lr"),
      normalize_name($"a").as("nn"),
      char_ngrams(lower($"a"), 3).as("ng"),
      simhash64(split($"a", "")).as("sh"))
      .collect()
    assert(math.abs(got(0).getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(got(0).getString(2) == "martha")
    assert(got(0).getSeq[String](3).nonEmpty)
    val html = Seq(Tuple1("<p>Hello</p>".getBytes("UTF-8"))).toDF("html")
    assert(html.select(extract_text($"html")).as[String].head() == "Hello")
    val m = Seq(Tuple1("the Big Apple shines")).toDF("t")
      .select(explode(extract_mentions($"t")).as("m"))
      .select($"m.name").as[String].collect()
    assert(m.toSeq == Seq("Big Apple"))
  }

  test("nearest_cells prints its centroids by content, not by array identity") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val v = Literal.create(null, ArrayType(FloatType))
    def cells(cent: Array[Array[Float]]) = nelspark.expr.NearestCells(v, cent, 2).toString
    val a = cells(Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
    val b = cells(Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
    assert(a == b)
    assert(!a.contains("[F@") && a.contains("2x3:") && a.endsWith(", 2)"), a)
    assert(cells(Array(Array(1f, 0f, 0f), Array(0f, 0f, 1f))) != a)
  }

  test("term_counts: one element per distinct non-empty token, counted") {
    import spark.implicits._
    val rows = Seq(" b a  b B", "école über école 東京 東京 東京", "", " ").toDF("s")
      .select(term_counts(split(col("s"), "\\s+")).as("t"))
      .collect().map(_.getSeq[Row](0).map(r => (r.getString(0), r.getDouble(1))))
    // leading whitespace leaves an empty first token, which is not a term;
    // terms keep their case and come in order of first occurrence
    assert(rows(0) == Seq(("b", 2.0), ("a", 1.0), ("B", 1.0)))
    assert(rows(1) == Seq(("école", 2.0), ("über", 1.0), ("東京", 3.0)))
    assert(rows(2).isEmpty && rows(3).isEmpty)
  }

  test("SQL registration exposes functions to spark.sql") {
    functions.registerAll(spark)
    val r = spark.sql("SELECT jaro_winkler('MARTHA','MARHTA') AS jw, normalize_name('José') AS nn")
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(r.getString(1) == "jose")
  }
}
