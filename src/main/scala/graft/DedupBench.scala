package graft

import org.apache.spark.sql.functions._
import org.json4s.{JInt, JObject, JString}
import org.json4s.jackson.JsonMethods.compact

import graft.Bench.timed
import graft.operators.{Caches, Dedup}

/** Corpus-scale throughput benchmark for the dedup family — the
  * dedup analog of `aqi.AqiBench` (pipeline) and `aqi.AqiStreamBench`
  * (streaming): synthesizes a corpus with a CONTROLLED duplication
  * structure, runs the main dedup tiers, and prints one JSON line of
  * wall times + docs/second. BASELINE.md records the numbers; later
  * rounds regress against them.
  *
  *   sbt "runMain graft.DedupBench [docs]"      (default 100,000)
  *
  * Corpus: docs/4 clusters of shape {canonical, exact dup, near dup}
  * plus an unrelated doc — generation is DISTRIBUTED (spark.range +
  * deterministic token hashing), so the generator itself scales with
  * the benchmark instead of bottlenecking on the driver. Every doc is
  * ~40 tokens over a 5,000-word vocabulary; near dups share all but
  * one token with their canonical.
  *
  * Phases (each forced by count, caches released between):
  *   exact     — md5 groupBy dedup
  *   minhash   — MinHash+LSH candidate+verify pair scan
  *   prefix    — prefix-filtered exact Jaccard join at 0.9
  *   clusters  — connected components over the minhash pairs + keep-list
  */
object DedupBench {

  def main(args: Array[String]): Unit = {
    val nDocs = ((args.headOption.map(_.toInt).getOrElse(100000)) / 4) * 4
    val spark = Sessions.driver()

    val vocab = 5000
    val tokensPerDoc = 40
    // cluster structure by position in each block of 4:
    //   4k   canonical | 4k+1 unrelated | 4k+2 near dup | 4k+3 exact dup
    // content seed: canonical id for dup roles, own id otherwise;
    // near dups perturb the LAST token
    val docs = spark.range(nDocs.toLong)
      .select(col("id").as("doc_id"),
        expr("CASE WHEN id % 4 IN (2, 3) THEN id - (id % 4) ELSE id END").as("__seed"),
        expr("CAST(id % 4 = 2 AS INT)").as("__mut"))
      .select(col("doc_id"),
        concat_ws(" ",
          expr(s"""transform(sequence(0, ${tokensPerDoc - 1}), j ->
            concat('w', pmod(hash(__seed, j + 1000000 * IF(__mut = 1 AND j = ${tokensPerDoc - 1}, 1, 0)), $vocab)))"""))
          .as("text"))
      .persist()
    val actualDocs = docs.count() // materialize generation outside the timings

    def measured(body: => Long): (Double, Long) = try timed(body) finally Caches.release()
    val (tExact, exactRows) = measured(Dedup.exact(docs).count())
    val (tMinhash, minhashPairs) = measured(Dedup.minHashLsh(docs, threshNum = 9, threshDen = 10).count())
    val (tPrefix, prefixPairs) = measured(
      Dedup.ngramJaccardPairsPrefix(docs, 9, 10).count())
    val (tClusters, survivors) = measured {
      val pairs = Dedup.minHashLsh(docs, threshNum = 9, threshDen = 10)
      Dedup.keepListFromClusters(
        docs.select(col("doc_id"), length(col("text")).as("score")),
        Dedup.dedupClusters(pairs), scoreCol = "score").count()
    }

    def phase(t: Double, countName: String, n: Long) = JObject(
      "sec" -> Bench.fixed(t, 2), "docs_per_s" -> JInt((actualDocs / t).toLong), countName -> JInt(n))
    println(compact(JObject("metric" -> JString("dedup_bench"), "docs" -> JInt(actualDocs),
      "exact" -> phase(tExact, "groups", exactRows),
      "minhash" -> phase(tMinhash, "pairs", minhashPairs),
      "prefix" -> phase(tPrefix, "pairs", prefixPairs),
      "clusters" -> phase(tClusters, "survivors", survivors))))
    spark.stop()
  }
}
