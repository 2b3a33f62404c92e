package nelspark

import nelspark.sources.Tac
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SRC3: TAC-KBP reader — XML queries parse (incl. entity decoding and
  * attribute extraction), gold-links join, docid→source-doc join, and
  * fixture idempotence. */
class TacSpec extends SparkSpec {

  private val docsPq = "/root/testdata/sf0.001/documents.parquet"

  test("handcrafted queries XML parses ids, entities, and offsets") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<kbpentlink>
        |  <query id="EL_1">
        |    <name>Acme &amp; Sons</name>
        |    <docid>DOC_3</docid>
        |    <beg>0</beg>
        |    <end>10</end>
        |  </query>
        |  <query id="EL_2">
        |    <name>bob</name>
        |    <docid>DOC_4</docid>
        |    <beg>5</beg>
        |    <end>7</end>
        |  </query>
        |</kbpentlink>
        |""".stripMargin
    val f = java.nio.file.Paths.get(tempDir("tac_spec"), "queries.xml")
    Files.writeString(f, xml)
    val q = Tac.queries(spark, f.toString).orderBy("query_id").collect()
    assert(q.length == 2)
    val r1 = q(0)
    assert(r1.getAs[String]("query_id") == "EL_1")
    assert(r1.getAs[String]("name") == "Acme & Sons") // entity decoded
    assert(r1.getAs[String]("docid") == "DOC_3")
    assert(r1.getAs[Long]("beg_off") == 0L && r1.getAs[Long]("end_off") == 10L)
    assert(q(1).getAs[String]("name") == "bob")
  }

  test("fixture is byte-stable; corpus joins all three sources exactly") {
    val base = s"${tempDir("tac_spec_fixture")}/tac"
    val (xml1, links1, twin1) = Tac.ensureFixture(spark, docsPq, base, 30)
    val b1 = (Files.readAllBytes(java.nio.file.Paths.get(xml1)),
      Files.readAllBytes(java.nio.file.Paths.get(links1)),
      Files.readAllBytes(java.nio.file.Paths.get(twin1)))
    val (xml2, links2, _) = Tac.ensureFixture(spark, docsPq, base, 30)
    assert(java.util.Arrays.equals(b1._1, Files.readAllBytes(java.nio.file.Paths.get(xml2))))
    assert(java.util.Arrays.equals(b1._2, Files.readAllBytes(java.nio.file.Paths.get(links2))))

    val c = Tac.corpus(spark, xml1, links1, docsPq).cache()
    assert(c.count() == 30L) // inner joins lose nothing: all ids resolve
    assert(c.select(countDistinct("query_id")).head.getLong(0) == 30L)
    // NIL gold appears exactly where the fixture plants it (doc_id % 5 == 0)
    assert(c.filter(col("kb_id") === "NIL").count() == 6L)
    // the &co marker survives XML entity round-trip (doc_id % 10 == 9)
    assert(c.filter(col("name").endsWith(" &co")).count() == 3L)
    // doc join resolved: every token count is positive
    assert(c.filter(col("doc_tokens") <= 0).count() == 0L)
    // offsets: end_off is inclusive of the name span
    assert(c.filter(col("end_off") =!= length(col("name")) - 1).count() == 0L)
  }
}
