package nelspark.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import nelspark.expr.Kernels

/**
 * J2: within-document coreference chaining (reference analog:
 * nel/process/coref.py's greedy name-overlap clusterer, UNVERIFIED —
 * SURVEY.md §0/§2.3). Mentions in one document whose names are
 * compatible (exact / substring / token-subset / acronym / initials
 * match after normalization) collapse into a chain.
 *
 * Per-document mention cardinality is tiny (a handful), so the theta
 * self-join runs LOCALLY inside `flatMapGroups` — shuffling once by url
 * beats a relational self-join that would shuffle pairs (SURVEY.md §2.3).
 * Chain id = min mention_id of the chain (deterministic).
 */
object Coref {

  def compatible(a: String, b: String): Boolean = {
    if (a == b) return true
    val ta = a.split(' ').filter(_.nonEmpty)
    val tb = b.split(' ').filter(_.nonEmpty)
    val (short, long) = if (ta.length <= tb.length) (ta, tb) else (tb, ta)
    if (short.isEmpty) return false
    // token-subset in order (e.g. "smith" ⊂ "john q smith"), initials
    // ("j q smith" vs "john quincy smith"), acronym ("jqs")
    val subset = short.forall(t =>
      long.exists(l => l == t || l.startsWith(t) || t.startsWith(l)))
    lazy val acronym = short.length == 1 &&
      short(0).length == long.length && short(0).length > 1 &&
      short(0).zip(long.map(_.charAt(0))).forall { case (x, y) => x == y }
    subset || acronym
  }

  case class M(mention_id: Long, url: String, name_norm: String)

  /** (mention_id, chain_id) for every input mention. */
  def chains(mentions: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions.select("mention_id", "url", "name_norm").as[M]
      .groupByKey(_.url)
      .flatMapGroups { (_, it) =>
        val ms = it.toArray.sortBy(_.mention_id)
        val n = ms.length
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
        def union(x: Int, y: Int): Unit = {
          val rx = find(x); val ry = find(y)
          if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
        }
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            if (compatible(ms(i).name_norm, ms(j).name_norm)) union(i, j)
            j += 1
          }
          i += 1
        }
        (0 until n).iterator.map(i => (ms(i).mention_id, ms(find(i)).mention_id))
      }
      .toDF("mention_id", "chain_id")
  }
}
