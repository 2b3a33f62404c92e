package nelspark.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import nelspark.gen.Fixtures
import nelspark.util.Parquet

/**
 * SRC3: TAC-KBP entity-linking corpus reader (the reference parses the
 * TAC queries XML + gold-links TSV + source docs, `nel/corpora/tac.py`
 * — reference absent at survey time, SURVEY.md §0/§2.1). The on-disk
 * shape mirrors the real TAC distribution:
 *
 *  - queries XML: `<kbpentlink><query id="EL_00001"><name>…</name>
 *    <docid>DOC_7</docid><beg>0</beg><end>16</end></query>…` — parsed
 *    with Spark 4's NATIVE XML datasource (`rowTag=query`, explicit
 *    schema, so no inference pass over the file);
 *  - gold links TSV: `query_id \t kb_id \t entity_type` (kb_id = NIL
 *    for out-of-KB queries), read as a schema'd CSV scan;
 *  - source docs: the documents parquet table, joined on docid.
 *
 * All three sources meet in one declarative three-way equi-join
 * (`corpus`) — at TAC scale the XML+links sides are tiny and Catalyst
 * broadcasts them against the doc scan; at web scale the same plan
 * shuffles on doc_id, which AQE can split. No RDDs, no UDFs.
 */
object Tac {

  private val querySchema = StructType(Seq(
    StructField("_id", StringType),     // id attribute (attributePrefix "_")
    StructField("name", StringType),
    StructField("docid", StringType),
    StructField("beg", LongType),       // TAC offsets: inclusive begin/end
    StructField("end", LongType)))

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /**
   * Deterministically derive a TAC-shaped fixture from a documents
   * parquet table (first `nDocs` docs by doc_id) and write it
   * idempotently (atomic moves, byte-stable across calls and sf levels
   * because the source parquet is pinned by the caller):
   *
   *  - `<base>_queries.xml` — the queries file Spark parses;
   *  - `<base>_links.tsv`   — gold links, read by BOTH engines;
   *  - `<base>_twin.tsv`    — the same query fields written field-by-
   *    field as TSV, read ONLY by the DuckDB oracle: any Spark XML
   *    parse infidelity (attribute extraction, entity decoding, type
   *    coercion) shows up as a cross-engine mismatch (same round-trip
   *    oracle pattern as q_media_meta).
   *
   * The query name is the doc's first two whitespace tokens
   * (TSV/XML-hostile chars stripped); every 10th query appends `&co`
   * so XML entity decoding (`&amp;` → `&`) is exercised for real, not
   * just on dormant input. Gold: doc_id % 5 == 0 → NIL, else a small
   * KB id cycle; entity_type cycles PER/ORG/GPE.
   */
  def ensureFixture(spark: SparkSession, docsParquet: String, base: String,
      nDocs: Int = 50): (String, String, String) = {
    val (xp, lp, tp) =
      (s"${base}_queries.xml", s"${base}_links.tsv", s"${base}_twin.tsv")
    // Skip-if-current — same tag contract as Conll.ensureFixture (`:v1`
    // = this generator's contract version).
    Fixtures.ensurePinnedFiles(base + ".tag",
        Fixtures.tag(s"tac:v1:$nDocs", docsParquet), Seq(xp, lp, tp)) {
      val docs = Parquet.read(spark, docsParquet).select("doc_id", "text")
        .filter(col("doc_id") < nDocs).orderBy("doc_id").collect()
      val xml = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<kbpentlink>\n")
      val links = new StringBuilder
      val twin = new StringBuilder
      docs.foreach { r =>
        val docId = r.getLong(0)
        val qid = f"EL_$docId%05d"
        val toks = r.getString(1).split("\\s+").iterator
          .map(_.replaceAll("[\"\\\\\t<>&']", "")).filter(_.nonEmpty).take(2).toSeq
        val name0 = toks.mkString(" ")
        val name = if (docId % 10 == 9) name0 + " &co" else name0
        val beg = 0L
        val end = math.max(name.length - 1, 0).toLong // TAC inclusive end offset
        val kbId = if (docId % 5 == 0) "NIL" else f"E${docId % 7}%03d"
        val etype = Seq("PER", "ORG", "GPE")((docId % 3).toInt)
        xml.append(s"""  <query id="$qid">\n""")
          .append(s"    <name>${xmlEscape(name)}</name>\n")
          .append(s"    <docid>DOC_$docId</docid>\n")
          .append(s"    <beg>$beg</beg>\n    <end>$end</end>\n  </query>\n")
        links.append(qid).append('\t').append(kbId).append('\t').append(etype).append('\n')
        twin.append(qid).append('\t').append(s"DOC_$docId").append('\t')
          .append(name).append('\t').append(beg).append('\t').append(end).append('\n')
      }
      xml.append("</kbpentlink>\n")
      Seq(xml.toString, links.toString, twin.toString)
    }
    (xp, lp, tp)
  }

  /** TAC queries parsed from XML: (query_id, docid, name, beg_off,
    * end_off). Native multi-line XML scan, one row per `<query>`. */
  def queries(spark: SparkSession, xmlPath: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "query")
      .schema(querySchema)
      .load(xmlPath)
      .select(col("_id").as("query_id"), col("docid"), col("name"),
        col("beg").as("beg_off"), col("end").as("end_off"))

  /** Gold links TSV: (query_id, kb_id, entity_type); kb_id=NIL for
    * out-of-KB queries. */
  def gold(spark: SparkSession, linksPath: String): DataFrame =
    spark.read.option("sep", "\t")
      .schema("query_id STRING, kb_id STRING, entity_type STRING")
      .csv(linksPath)

  /** The assembled TAC corpus: queries ⋈ gold ⋈ source docs, plus a
    * doc-derived token count proving the docid→doc join resolved.
    * docid carries the `DOC_<doc_id>` convention of the fixture. */
  def corpus(spark: SparkSession, xmlPath: String, linksPath: String,
      docsParquet: String): DataFrame = {
    val docs = Parquet.read(spark, docsParquet)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long")
        .as("doc_tokens"))
    queries(spark, xmlPath)
      .join(gold(spark, linksPath), Seq("query_id"))
      .withColumn("doc_id", regexp_replace(col("docid"), "^DOC_", "").cast("long"))
      .join(docs, Seq("doc_id"))
      .select("query_id", "docid", "name", "beg_off", "end_off",
        "kb_id", "entity_type", "doc_tokens")
  }
}
