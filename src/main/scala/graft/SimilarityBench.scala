package graft

import org.apache.spark.sql.functions._
import org.json4s.{JDouble, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods.compact

import graft.Bench.timed
import graft.operators.{Caches, Similarity}

/** Vector-search throughput + recall benchmark: synthesizes a
  * CLUSTERED embedding corpus (vectors
  * concentrate around seeded directions, the regime IVF exists for),
  * times the search tiers, and measures recall@k against the exact
  * brute-force ranking of the same queries. One JSON line; BASELINE.md
  * records it.
  *
  *   sbt "runMain graft.SimilarityBench [vectors] [dim]"   (default 100,000 × 64)
  *
  * Generation is distributed (spark.range + hash-derived components):
  * vector i belongs to cluster `i % 100` and its component j is the
  * cluster direction plus deterministic jitter. Queries are the first
  * 50 vectors (self-hit excluded by rank, not worth special-casing —
  * every tier sees the same ground truth).
  */
object SimilarityBench {

  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(100000)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val nQueries = 50
    val k = 10
    val spark = Sessions.driver()

    // clustered corpus: direction of cluster c, component j is a hash
    // in [-1, 1]; each member adds +-0.15 jitter — cosine structure IVF
    // can exploit, deterministic end to end
    def corpus(component: String) = { // component j of vector `id`, as SQL
      val df = spark.range(nVecs.toLong).select(col("id").as("vec_id"), expr(
        s"transform(sequence(0, ${dim - 1}), j -> CAST($component AS FLOAT))").as("embedding"))
      df.persist().count()
      df
    }
    val emb = corpus("""(pmod(hash(id % 100, j), 2001) - 1000) / 1000.0 +
      (pmod(hash(id, j), 301) - 150) / 1000.0""")

    val isQuery = col("vec_id") < nQueries
    val isCand = col("vec_id") >= nQueries.toLong

    def collectPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val out = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Caches.release()
      out
    }

    val (tBrute, truth) = timed(collectPairs(
      Similarity.bruteForceTopK(emb, isQuery, isCand, k)))
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(truth).size.toDouble / truth.size

    // production shape: the corpus assignment is paid ONCE at index
    // build; query batches probe the stored cells
    val wh = java.nio.file.Files.createTempDirectory("ann-bench").toString
    val (tBuild, _) = timed(Similarity.buildIvfIndex(
      emb, isCand, wh, "corpus", numCentroids = 64, refineIters = 2))
    val (tIvf, ivf) = timed(collectPairs(
      Similarity.ivfTopKIndexed(emb.where(isQuery), wh, "corpus", k, nProbe = 8)))
    val (tLsh, lsh) = timed(collectPairs(
      Similarity.lshTopK(emb, isQuery, isCand, k, numPlanes = 12, dim = dim)))
    // PQ codebook quality A/B at equal m/codebookSize: per-subspace
    // Lloyd-trained book vs the untrained seed-slice book — the trained
    // tier must never measure below the slice tier it replaced
    val (tPqT, pqTrained) = timed(collectPairs(
      Similarity.pqTopK(emb, isQuery, isCand, k, m = 4, codebookSize = 16)))
    val (tPq0, pqSlice) = timed(collectPairs(
      Similarity.pqTopK(emb, isQuery, isCand, k, m = 4, codebookSize = 16,
        trainIters = 0)))
    require(recall(pqTrained) >= recall(pqSlice),
      s"trained PQ codebook recall ${recall(pqTrained)} fell below the " +
        s"untrained slice codebook's ${recall(pqSlice)}")
    // the STANDARD PQ operating point (m=8 subspaces, 256-entry books
    // — the FAISS-default PQ8x8 shape — with a 20·k re-rank depth):
    // the m=4/K=16 rows above demonstrate the construction cheaply;
    // this row demonstrates the tier at deployment strength, and must
    // dominate the toy point. NOTE the clustered corpus is PQ's
    // hardest regime: every query's true top-k are jitter-level
    // distinctions among ~nVecs/100 near-identical cluster siblings,
    // so recall is code-resolution-bounded at any fixed refine — the
    // production lever here is re-rank depth (ADC trivially finds the
    // cluster; the exact re-rank resolves the siblings), hence
    // refine = 20·k at the standard point, still ≪ the 500-sibling
    // cluster population.
    val (tPqStd, pqStd) = timed(collectPairs(
      Similarity.pqTopK(emb, isQuery, isCand, k, m = 8, codebookSize = 256,
        refine = 20 * k)))
    require(recall(pqStd) >= recall(pqTrained),
      s"standard-point PQ recall ${recall(pqStd)} fell below the toy point's " +
        s"${recall(pqTrained)}")
    // the RESIDUAL tier at the same standard point — the architecture
    // answer to the sibling-resolution ceiling above: IVF-PQ codes the
    // (unit vector − cell centroid) residual, so on a clustered corpus
    // the books spend their entire budget on exactly the jitter that
    // ranks siblings instead of re-describing cluster directions. Must
    // clear the raw-vector tier at equal m/K/refine.
    val (tIvfPqStd, ivfPqStd) = timed(collectPairs(
      Similarity.ivfPqTopK(emb, isQuery, isCand, k,
        numCentroids = 64, nProbe = 8, m = 8, codebookSize = 256,
        refine = 20 * k, refineIters = 2)))
    require(recall(ivfPqStd) >= recall(pqStd),
      s"residual-coded IVF-PQ recall ${recall(ivfPqStd)} fell below raw-vector " +
        s"PQ's ${recall(pqStd)} at the same operating point")
    // LOW-RANK corpus at the standard point. The first corpus's jitter
    // is i.i.d. uniform per component — INCOMPRESSIBLE, the
    // information-theoretic worst case for any code-based tier (256
    // codewords in an 8-dim uniform cube quantize at the jitter's own
    // scale, so within-cluster ranking stays noise-bounded at every
    // operating point: the 0.4-ish recalls above are refine/cluster
    // population, not a construction defect). Real embeddings are
    // intrinsically LOW-RANK — the regime PQ exists for — so the
    // standard point is also measured on a cluster + rank-4-latent
    // corpus: neighbors differ along 4 latent axes that 256-entry
    // books resolve well.
    val emb2 = corpus("""(pmod(hash(id % 100, j), 2001) - 1000) / 1000.0 +
      ((pmod(hash(id, 1000), 601) - 300) / 1000.0) * ((pmod(hash(2000, j), 2001) - 1000) / 1000.0) +
      ((pmod(hash(id, 1001), 601) - 300) / 1000.0) * ((pmod(hash(2001, j), 2001) - 1000) / 1000.0) +
      ((pmod(hash(id, 1002), 601) - 300) / 1000.0) * ((pmod(hash(2002, j), 2001) - 1000) / 1000.0) +
      ((pmod(hash(id, 1003), 601) - 300) / 1000.0) * ((pmod(hash(2003, j), 2001) - 1000) / 1000.0)""")
    val (tBrute2, truth2) = timed(collectPairs(
      Similarity.bruteForceTopK(emb2, isQuery, isCand, k)))
    def recall2(got: Set[(Long, Long)]): Double =
      got.intersect(truth2).size.toDouble / truth2.size
    val (tPqStd2, pqStd2) = timed(collectPairs(
      Similarity.pqTopK(emb2, isQuery, isCand, k, m = 8, codebookSize = 256,
        refine = 20 * k)))
    val (tIvfPqStd2, ivfPqStd2) = timed(collectPairs(
      Similarity.ivfPqTopK(emb2, isQuery, isCand, k,
        numCentroids = 64, nProbe = 8, m = 8, codebookSize = 256,
        refine = 20 * k, refineIters = 2)))

    def phase(t: Double, r: Double) =
      JObject("sec" -> Bench.fixed(t, 2), s"recall_at_$k" -> Bench.fixed(r, 3))
    def exact(t: Double) = JObject("sec" -> Bench.fixed(t, 2), s"recall_at_$k" -> JDouble(1.0))
    println(compact(JObject(
      "metric" -> JString("ann_bench"), "vectors" -> JInt(nVecs), "dim" -> JInt(dim),
      "queries" -> JInt(nQueries),
      "brute" -> exact(tBrute),
      "ivf_build" -> JObject("sec" -> Bench.fixed(tBuild, 2)),
      "ivf_probe" -> phase(tIvf, recall(ivf)),
      "lsh" -> phase(tLsh, recall(lsh)),
      "pq_trained" -> phase(tPqT, recall(pqTrained)),
      "pq_slice" -> phase(tPq0, recall(pqSlice)),
      "pq_standard_m8x256" -> phase(tPqStd, recall(pqStd)),
      "ivfpq_standard_m8x256" -> phase(tIvfPqStd, recall(ivfPqStd)),
      "brute_lowrank" -> exact(tBrute2),
      "pq_standard_lowrank" -> phase(tPqStd2, recall2(pqStd2)),
      "ivfpq_standard_lowrank" -> phase(tIvfPqStd2, recall2(ivfPqStd2)))))
    spark.stop()
  }
}
