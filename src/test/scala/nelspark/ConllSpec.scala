package nelspark

import nelspark.sources.Conll
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SRC2/SRC3: CoNLL TSV reader — doc-boundary regroup + B/I mention
  * reassembly, pinned on a handcrafted file, plus fixture idempotence. */
class ConllSpec extends SparkSpec {

  test("handcrafted TSV parses to the expected docs and mentions") {
    val tsv =
      """0	-DOCSTART-	O
        |1	Alice	B-ENT
        |2	Smith	I-ENT
        |3	works	O
        |4	at	O
        |5	Acme	B-ENT
        |6	-DOCSTART-	O
        |7	hello	O
        |8	Bob	B-ENT
        |""".stripMargin
    val f = java.nio.file.Paths.get(tempDir("conll_spec"), "in.tsv")
    Files.writeString(f, tsv)

    val toks = Conll.tokens(spark, f.toString)
    assert(toks.count() == 7) // boundary rows dropped
    assert(toks.filter(col("doc_idx") === 1).count() == 5)
    assert(toks.filter(col("doc_idx") === 2).count() == 2)
    // tok_pos restarts per doc
    assert(toks.filter(col("doc_idx") === 2 && col("token") === "Bob")
      .head.getAs[Long]("tok_pos") == 1L)

    val ms = Conll.mentions(spark, f.toString)
      .orderBy("doc_idx", "begin_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(ms.toSeq == Seq(
      (1L, 0L, 2L, "Alice Smith"),
      (1L, 4L, 5L, "Acme"),
      (2L, 1L, 2L, "Bob")))
  }

  test("quote/backslash tokens parse verbatim, one token per line") {
    // raw-TSV contract (round-3 advice): CoNLL is not CSV — a token that
    // IS a quote char (or contains one, or a backslash) must come back
    // byte-identical instead of being re-joined across lines by Spark's
    // CSV quoting, matching the DuckDB oracle's quote='' read.
    val tsv =
      "0\t-DOCSTART-\tO\n" +
        "1\t\"\tO\n" +
        "2\t\"Quoted\tB-ENT\n" +
        "3\tback\\slash\tI-ENT\n" +
        "4\tplain\tO\n"
    val f = java.nio.file.Paths.get(tempDir("conll_quote"), "in.tsv")
    Files.writeString(f, tsv)
    val toks = Conll.tokens(spark, f.toString)
      .orderBy("line_no").collect().map(_.getString(1)).toSeq
    assert(toks == Seq("\"", "\"Quoted", "back\\slash", "plain"),
      s"quoting not disabled: $toks")
  }

  test("multi-file regroup == single-file path (incl. mid-doc shard cuts)") {
    val p = s"${tempDir("conll_spec_fixture_mf")}/fixture.tsv"
    Conll.ensureFixture(spark, "/root/testdata/sf0.001/documents.parquet", p, 20)
    val lines = Files.readAllLines(java.nio.file.Paths.get(p))
    val dir = java.nio.file.Paths.get(tempDir("conll_mf"))
    // cut at arbitrary line offsets — NOT doc boundaries — so shards 2/3
    // begin mid-doc (and possibly mid-mention): their leading tokens must
    // land in the previous shard's last doc via the boundary-offset join
    val cuts = Seq(0, lines.size / 3 + 7, 2 * lines.size / 3 + 3, lines.size)
    for (i <- 0 until 3)
      Files.write(dir.resolve(f"shard$i%02d.tsv"),
        lines.subList(cuts(i), cuts(i + 1)))
    val single = Conll.mentions(spark, p)
      .collect().map(_.toString).sorted.toSeq
    val multi = Conll.mentions(spark, dir.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(multi == single, "multi-file mentions differ from single-file")
    val toks = Conll.tokens(spark, dir.toString)
    assert(toks.select(countDistinct("doc_idx")).head.getLong(0) == 20L)
  }

  test("ensureShards reconstitutes the single-file bytes and is stable") {
    val dir = s"${tempDir("conll_spec_shards")}/shards"
    Conll.ensureShards(spark, "/root/testdata/sf0.001/documents.parquet",
      dir, 20, 3)
    def cat(): Array[Byte] = {
      val fs = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tsv"))
        .sortBy(_.getName)
      assert(fs.length == 3, s"expected 3 shards, got ${fs.length}")
      fs.flatMap(f => Files.readAllBytes(f.toPath)).toArray
    }
    val single = Files.readAllBytes(java.nio.file.Paths.get(dir + ".tsv"))
    val b1 = cat()
    // readAllLines/write drops the trailing newline convention — compare
    // the token content, not the final byte
    def norm(b: Array[Byte]) = new String(b, "UTF-8").stripTrailing()
    assert(norm(b1) == norm(single), "shards != single-file fixture bytes")
    Conll.ensureShards(spark, "/root/testdata/sf0.001/documents.parquet",
      dir, 20, 3)
    assert(java.util.Arrays.equals(b1, cat()), "shards not byte-stable")
    // shrink nShards: higher-index shards from the wider run must be
    // purged or both engines would glob duplicated data
    Conll.ensureShards(spark, "/root/testdata/sf0.001/documents.parquet",
      dir, 20, 2)
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tsv")).map(_.getName).sorted
    assert(after.toSeq == Seq("shard000.tsv", "shard001.tsv"),
      s"stale shards not purged: ${after.mkString(",")}")
    Conll.ensureShards(spark, "/root/testdata/sf0.001/documents.parquet",
      dir, 20, 3) // restore for any later fixture consumer
    // the sharded regroup over THIS fixture matches the single-file path
    val single2 = Conll.mentions(spark, dir + ".tsv")
      .collect().map(_.toString).sorted.toSeq
    val multi = Conll.mentions(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(multi == single2)
  }

  test("fixture generation is idempotent and parses to >0 mentions") {
    val p = s"${tempDir("conll_spec_fixture")}/fixture.tsv"
    Conll.ensureFixture(spark, "/root/testdata/sf0.001/documents.parquet", p, 20)
    val bytes1 = Files.readAllBytes(java.nio.file.Paths.get(p))
    Conll.ensureFixture(spark, "/root/testdata/sf0.001/documents.parquet", p, 20)
    val bytes2 = Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(bytes1, bytes2), "fixture not byte-stable")
    val ms = Conll.mentions(spark, p)
    assert(ms.count() > 0)
    // every doc index present in tokens is within [1, nDocs]
    val docs = Conll.tokens(spark, p).select(countDistinct("doc_idx")).head.getLong(0)
    assert(docs == 20L)
  }
}
