package graft

import org.apache.spark.sql.functions.{avg, col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with SparkTest {

  test("prefixDimRecall: full-width prefix is a perfect 1e6; blind prefix misses") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    // dim 0 identical everywhere; the signal lives in the tail —
    // a 1-dim prefix is blind (all prefix cosines tie), full width
    // recovers the true ranking
    def vec(tail: Array[Float]) = Array(1f) ++ tail
    val emb = (
      Seq((1L, vec(Array(10f, 10f, 10f)))) ++ // query: tail points at "hot" cands
        (10 to 14).map(i => (i.toLong, vec(Array.fill(3)(rnd.nextGaussian().toFloat * 0.01f)))) ++
        (25 to 29).map(i => (i.toLong, vec(Array(10f, 10f, 10f))))
    ).toDF("vec_id", "embedding")
    def recall(prefixDim: Int): Long =
      Similarity.prefixDimRecall(emb, col("vec_id") < 10, col("vec_id") >= 10,
          poolK = 10, k = 5, prefixDim = prefixDim, numCentroids = 2, nProbe = 2)
        .collect().map(r => r.getLong(2)).head
    // prefix = full width: the two rankings are the same ranking
    assert(recall(4) == 1000000L)
    // 1-dim prefix: prefix cosine ties at 1.0 for every candidate, so
    // the prefix top-5 is the 5 LOWEST ids (10..14) while the full
    // ranking puts the tail-aligned 25..29 first -> zero overlap
    assert(recall(1) == 0L)
  }

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f)), // query
      (10L, Array(1f, 0.01f)), // nearly parallel -> rank 1
      (11L, Array(1f, 1f)), // 45 degrees -> rank 2
      (12L, Array(0f, 1f)), // orthogonal -> rank 3
      (13L, Array(-1f, 0f)) // opposite -> rank 4
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 3)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(got == Map(10L -> 1, 11L -> 2, 12L -> 3))
  }

  test("filtered ANN: pre-filter IVF fills k; post-filtering starves at 10% selectivity") {
    val emb = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val qPred = col("vec_id") < 10
    val filter = col("label") === 3
    // pre-filter: cells over the filtered slice — every query gets k
    val pre = Similarity.ivfTopK(emb, qPred,
      col("vec_id") >= 10 && filter, 5, numCentroids = 16, nProbe = 4)
      .collect()
    assert(pre.length == 50, s"pre-filter IVF must fill k=5 for all 10 queries, got ${pre.length}")
    // the same probe budget WITHOUT the predicate, filtered afterwards:
    // ~10% of the top-5 survive — the candidate-starvation failure mode
    // that makes post-filtering the wrong plan for selective predicates
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    val post = Similarity.ivfTopK(emb, qPred,
      col("vec_id") >= 10, 5, numCentroids = 16, nProbe = 4)
      .join(labels, "neighbor_id").where(filter)
      .collect()
    assert(post.length < pre.length / 2,
      s"post-filter at 10% selectivity must starve (got ${post.length} of ${pre.length})")
    // pre-filter respects the predicate exactly
    val preLabels = spark.createDataFrame(
      spark.sparkContext.parallelize(pre.toSeq), pre.head.schema.asInstanceOf[org.apache.spark.sql.types.StructType])
    val bad = preLabels.join(labels, "neighbor_id")
      .where(col("label") =!= 3).count()
    assert(bad == 0, "every pre-filtered neighbor must satisfy the predicate")
  }

  test("lshTopK achieves high recall vs brute force on clustered data") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 16
    // clustered vectors: 8 clusters, queries drawn near cluster centers
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong + 100L, c.map(v => v + 0.1f * rnd.nextGaussian().toFloat))
    } ++ (0 until 8).map(i => (i.toLong, centers(i).map(v => v + 0.05f * rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5,
      numPlanes = 8, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("ivfTopK achieves high recall vs brute force on clustered data") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong + 100L, c.map(v => v + 0.1f * rnd.nextGaussian().toFloat))
    } ++ (0 until 8).map(i => (i.toLong, centers(i).map(v => v + 0.05f * rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5,
      numCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall")
    // nProbe = numCentroids probes every cell -> exact
    val full = Similarity.ivfTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5,
      numCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("persisted IVF index probes identically to the live index") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 12
    val rows = (0 until 150).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    for (refine <- Seq(0, 2)) {
      val t = s"idx_r$refine"
      Similarity.buildIvfIndex(emb, col("vec_id") >= 10, dir, t,
        numCentroids = 8, refineIters = refine)
      val fromIndex = Similarity.ivfTopKIndexed(
        emb.filter(col("vec_id") < 10), dir, t, k = 5, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val live = Similarity.ivfTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 5,
        numCentroids = 8, nProbe = 3, refineIters = refine)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fromIndex == live, s"refineIters=$refine")
    }
  }

  test("appendToIvfIndex: replay-safe delta ingest, exact at full probe") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 12
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id").between(10, 149))
    val delta = emb.filter(col("vec_id") >= 150)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    Similarity.buildIvfIndex(corpus, lit(true), dir, "idx", numCentroids = 8)
    Similarity.appendToIvfIndex(delta, dir, "idx")
    val cells1 = graft.sources.Warehouse.read(s, dir, "idx_cells")
      .collect().map(_.toSeq).toSet
    // replayed delta must be a no-op (id anti-join)
    Similarity.appendToIvfIndex(delta, dir, "idx")
    val cells2 = graft.sources.Warehouse.read(s, dir, "idx_cells")
      .collect().map(_.toSeq).toSet
    assert(cells1 == cells2, "replayed delta changed the cell table")
    assert(cells1.size == 190, "every corpus+delta vector indexed exactly once")
    // at nProbe = numCentroids the probe scans every cell, so the index
    // must return the EXACT top-k over corpus+delta — proves appended
    // vectors are fully search-visible
    val fromIndex = Similarity.ivfTopKIndexed(queries, dir, "idx", k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromIndex == exact)
  }

  test("deleteFromIvfIndex: purge equals purge-all + re-append survivors; deleted ids never surface") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 12
    val rows = (0 until 160).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") >= 10)
    val deleted = corpus.filter(col("vec_id") % 4 === 1).select("vec_id")
    val survivors = corpus.join(deleted, Seq("vec_id"), "left_anti")
    val dir = java.nio.file.Files.createTempDirectory("ivf-del").toString
    // path A: build over the corpus, targeted delete
    Similarity.buildIvfIndex(corpus, lit(true), dir, "a", numCentroids = 8)
    Similarity.deleteFromIvfIndex(s, dir, "a", deleted)
    // path B: same frozen centroids (same build), purge EVERYTHING,
    // re-append the survivors fresh — the canonical rebuild
    Similarity.buildIvfIndex(corpus, lit(true), dir, "b", numCentroids = 8)
    Similarity.deleteFromIvfIndex(s, dir, "b", corpus.select("vec_id"))
    // a purge-everything empties the partitioned table COMPLETELY —
    // emptied cell= directories are dropped, not left as stale files
    assert(graft.sources.Warehouse.listDataFiles(s, dir, "b_cells").isEmpty)
    Similarity.appendToIvfIndex(survivors, dir, "b")
    val cellsA = graft.sources.Warehouse.read(s, dir, "a_cells")
      .collect().map(_.toSeq).toSet
    val cellsB = graft.sources.Warehouse.read(s, dir, "b_cells")
      .collect().map(_.toSeq).toSet
    assert(cellsA == cellsB, "targeted purge must equal the survivor rebuild")
    // no deleted id can surface from any probe, even scanning all cells
    val served = Similarity.ivfTopKIndexed(
      emb.filter(col("vec_id") < 10), dir, "a", k = 10, nProbe = 8)
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    assert(served.collect().forall(r => !deletedIds.contains(r.getLong(1))))
    // deleting an absent id is a no-op (replay-safe)
    Similarity.deleteFromIvfIndex(s, dir, "a", Seq(999999L).toDF("vec_id"))
    assert(graft.sources.Warehouse.read(s, dir, "a_cells")
      .collect().map(_.toSeq).toSet == cellsA)
  }

  test("persisted IVF-PQ index: row-identical to the in-plan tier; codes table stores no raw vectors") {
    val s = spark
    val emb = graft.sources.Tables.table(s, "/root/testdata/sf0.01", "embeddings")
    val q = col("vec_id") < 10
    val c = col("vec_id") >= 10
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-index").toString
    Similarity.buildIvfPqIndex(emb, c, dir, "px", numCentroids = 8)
    // the index stores ONLY (neighbor_id, cell, code_*) — the 32×
    // compression claim: no raw vectors, no norms
    val codeCols = graft.sources.Warehouse.read(s, dir, "px_pqcodes").columns.toSet
    assert(!codeCols.contains("c_vec") && !codeCols.contains("c_norm"), codeCols.toString)
    assert(graft.sources.Warehouse.listDataFiles(s, dir, "px_pqcodes")
      .forall(_.contains("/cell=")), "code table must be cell-partitioned")
    // the serving vector projection is id-hash-bucketed (the re-rank's
    // partition-pruned point-fetch layout) and covers every candidate
    assert(graft.sources.Warehouse.listDataFiles(s, dir, "px_vectors")
      .forall(f => "/idb=b[0-9a-f]{2}/".r.findFirstIn(f).nonEmpty),
      "vector projection must be idb-bucketed")
    assert(graft.sources.Warehouse.read(s, dir, "px_vectors").count() ==
      emb.filter(c).count())
    // served results are row-identical to the in-plan composed tier
    val fromIndex = Similarity.ivfPqTopKIndexed(emb.filter(q), dir, "px",
      k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inPlan = Similarity.ivfPqTopK(emb, q, c, 5, numCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromIndex == inPlan)
  }

  test("IVF-PQ index maintenance: frozen-artifact append is exact at full probe+refine; RTBF purge never serves a victim") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(67)
    val dim = 12
    val rows = (0 until 220).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val base = emb.filter(col("vec_id").between(10, 169))
    val delta = emb.filter(col("vec_id") >= 170)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-maint").toString
    Similarity.buildIvfPqIndex(base, lit(true), dir, "ix", numCentroids = 8)
    Similarity.appendToIvfPqIndex(delta, dir, "ix")
    val rows1 = graft.sources.Warehouse.read(s, dir, "ix_pqcodes")
      .collect().map(_.toSeq).toSet
    // replayed delta is a no-op (anti-join on the touched partitions)
    Similarity.appendToIvfPqIndex(delta, dir, "ix")
    assert(graft.sources.Warehouse.read(s, dir, "ix_pqcodes")
      .collect().map(_.toSeq).toSet == rows1)
    assert(rows1.size == 210, "every base+delta vector coded exactly once")
    // at full probe AND refine covering the corpus, ADC approximation
    // drops out of the final answer: the maintained index must serve
    // the EXACT top-k over base+delta — appended vectors fully visible
    val got = Similarity.ivfPqTopKIndexed(queries, dir, "ix",
      k = 5, nProbe = 8, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact)
    // RTBF: purge every 4th id; no victim ever surfaces, survivors'
    // code rows are byte-unchanged, deleting an absent id no-ops
    val victims = emb.filter(col("vec_id") >= 10 && col("vec_id") % 4 === 1)
      .select("vec_id")
    Similarity.deleteFromIvfPqIndex(s, dir, "ix", victims)
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    val after = graft.sources.Warehouse.read(s, dir, "ix_pqcodes")
      .collect().map(_.toSeq).toSet
    assert(after == rows1.filterNot(r => victimIds.contains(r.head.asInstanceOf[Long])))
    // RTBF reaches the RAW vectors too: the serving projection must
    // hold exactly the survivors (the victims' vectors are the most
    // sensitive per-vector data the purge exists for)
    val vecIds = graft.sources.Warehouse.read(s, dir, "ix_vectors")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(vecIds.intersect(victimIds).isEmpty, "no victim vector survives")
    assert(vecIds == after.map(_.head.asInstanceOf[Long]),
      "vector projection tracks the code table's membership")
    val served = Similarity.ivfPqTopKIndexed(queries, dir, "ix",
      k = 10, nProbe = 8, refine = 1000)
    assert(served.collect().forall(r => !victimIds.contains(r.getLong(1))))
    Similarity.deleteFromIvfPqIndex(s, dir, "ix", Seq(999999L).toDF("vec_id"))
    assert(graft.sources.Warehouse.read(s, dir, "ix_pqcodes")
      .collect().map(_.toSeq).toSet == after)
  }

  test("retrainPqCellBooks: clean code partitions byte-identical, dirty distortion non-increasing, overrides serve exactly") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(71)
    val dim = 12
    // anchored clusters so cells (and their residual geometry) have
    // real structure for the per-cell books to specialize on
    val rows = (0 until 240).map { i =>
      val v = Array.fill(dim)(0.4f * rnd.nextGaussian().toFloat)
      v(i % 4) = v(i % 4) + 2.0f
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-rt").toString
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") >= 10), lit(true),
      dir, "rt", numCentroids = 8)
    val dirty = Seq(1L, 2L)
    def cleanStats(): Set[(String, Long, Long)] =
      graft.sources.Warehouse.listDataFiles(s, dir, "rt_pqcodes")
        .filterNot(f => dirty.exists(c => f.contains(s"/cell=$c/")))
        .map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
          (f, st.getLen, st.getModificationTime)
        }.toSet
    // driver-side replica of the index state for the distortion audit
    val cents = graft.sources.Warehouse.read(s, dir, "rt_centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val members = graft.sources.Warehouse.read(s, dir, "rt_pqcodes")
      .withColumn("cell", col("cell").cast("long")) // partition col reads as INT
      .filter(col("cell").isin(dirty: _*))
      .select("neighbor_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val vecs = graft.sources.Warehouse.read(s, dir, "rt_vectors")
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Float](1).toArray, r.getDouble(2))))
      .toMap
    def residual(id: Long, cell: Long): Array[Float] = {
      val (v, nrm) = vecs(id); val c = cents(cell)
      Array.tabulate(dim)(j => (v(j).toDouble / nrm).toFloat - c(j))
    }
    def readBook(df: org.apache.spark.sql.DataFrame, cell: Option[Long]): Array[Array[Array[Float]]] = {
      val rs = cell.map(c => df.filter(col("cell") === c)).getOrElse(df)
        .orderBy("s", "cidx").collect()
      val m = rs.map(_.getInt(if (cell.isDefined) 1 else 0)).max + 1
      (0 until m).toArray.map(sx => rs.filter(_.getInt(if (cell.isDefined) 1 else 0) == sx)
        .map(r => r.getSeq[Float](if (cell.isDefined) 3 else 2).toArray))
    }
    def distortion(bookOf: Long => Array[Array[Array[Float]]]): Double =
      members.map { case (id, cell) =>
        val r = residual(id, cell); val b = bookOf(cell)
        val m = b.length; val sub = dim / m
        (0 until m).map { sx =>
          b(sx).map { e =>
            (0 until sub).map { j =>
              val d = r(sx * sub + j) - e(j); d.toDouble * d }.sum
          }.min
        }.sum
      }.sum
    val global = readBook(graft.sources.Warehouse.read(s, dir, "rt_codebooks"), None)
    val before = distortion(_ => global)
    val clean0 = cleanStats()
    Similarity.retrainPqCellBooks(s, dir, "rt", dirty, trainIters = 2)
    assert(cleanStats() == clean0,
      "codebook repair must leave clean cells' code files byte-untouched")
    val cbs = graft.sources.Warehouse.read(s, dir, "rt_cellbooks")
    assert(cbs.select("cell").distinct().collect().map(_.getLong(0)).toSet == dirty.toSet)
    val overBooks = dirty.map(c => c -> readBook(cbs, Some(c))).toMap
    // Lloyd seeded from the global book on exactly these residuals is
    // monotone: per-cell distortion can only improve (fixed-point mean
    // quantization allows an ulp-scale epsilon)
    val after = distortion(overBooks)
    assert(after <= before + 1e-9, s"distortion $before -> $after")
    assert(overBooks.values.exists(b => b.flatten.map(_.toSeq) != global.flatten.map(_.toSeq)),
      "the repair must actually move at least one book")
    // membership unchanged, and the served probe stays EXACT at full
    // probe + refine (ADC approximation drops out of the final answer
    // whichever book decodes it — codes and LUTs agree per cell)
    val got = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 10),
      dir, "rt", k = 5, nProbe = 8, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, "override-decoded probe must stay exact at full probe")
    // a delta appended AFTER the repair encodes overridden cells under
    // their override book — served results stay exact over base+delta
    val delta = (1000 until 1040).map(i =>
      (i.toLong, Array.fill(dim)(0.4f * rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(delta, dir, "rt")
    val got2 = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 10),
      dir, "rt", k = 5, nProbe = 8, refine = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact2 = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") >= 10).unionByName(delta)
        .unionByName(emb.filter(col("vec_id") < 10)),
      col("vec_id") < 10, col("vec_id") >= 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got2 == exact2, "post-append override encode must serve exactly")
  }

  test("recentroidCells: dirty-slice-only repair, clean partitions byte-identical, quality improves") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(59)
    val dim = 12
    // corpus with genuine cluster structure so Lloyd has something to
    // converge onto: anchor +2.0 on dim (id % 6) over gaussian noise
    val rows = (0 until 240).map { i =>
      val v = Array.fill(dim)(0.4f * rnd.nextGaussian().toFloat)
      v(i % 6) = v(i % 6) + 2.0f
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-rc").toString
    val dirty = Seq(1L, 2L)
    def fileBytes(table: String, pred: String => Boolean): Map[String, Seq[Byte]] =
      graft.sources.Warehouse.listDataFiles(s, dir, table).filter(pred)
        .map(f => f -> java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(new java.net.URI(f).getPath)).toSeq).toMap
    def isClean(f: String): Boolean = !dirty.exists(c => f.contains(s"/cell=$c/"))
    def members(table: String, cellPred: Long => Boolean): Set[Long] =
      graft.sources.Warehouse.read(s, dir, s"${table}_cells")
        .select(col("neighbor_id"), col("cell").cast("long"))
        .collect().filter(r => cellPred(r.getLong(1))).map(_.getLong(0)).toSet
    def dirtyAvgCos(table: String): Double =
      Similarity.ivfIndexStats(s, dir, table)
        .where(col("cell").isin(dirty: _*) && col("n_vectors") > 0)
        .agg(avg(col("avg_cos_ppm"))).head().getDouble(0)
    Similarity.buildIvfIndex(emb, lit(true), dir, "r", numCentroids = 8)
    val cleanBefore = fileBytes("r_cells", isClean)
    val cleanMembersBefore = members("r", c => !dirty.contains(c))
    val dirtyMembersBefore = members("r", dirty.contains)
    val cosBefore = dirtyAvgCos("r")
    Similarity.recentroidCells(s, dir, "r", dirty, iters = 3)
    // clean partitions byte-identical — the repair never rewrote them
    assert(fileBytes("r_cells", isClean) == cleanBefore,
      "clean cells' files must be byte-identical after the repair")
    // membership conservation: no vector crossed the dirty/clean border
    assert(members("r", c => !dirty.contains(c)) == cleanMembersBefore)
    assert(members("r", dirty.contains) == dirtyMembersBefore)
    // the repair's point: member→centroid cosine over the dirty slice
    // must not degrade (and on this clustered fixture it improves)
    val cosAfter = dirtyAvgCos("r")
    assert(cosAfter >= cosBefore,
      s"local re-Lloyd degraded the dirty slice: $cosBefore -> $cosAfter")
    // deterministic: the same repair on a twin index lands identical
    Similarity.buildIvfIndex(emb, lit(true), dir, "r2", numCentroids = 8)
    Similarity.recentroidCells(s, dir, "r2", dirty, iters = 3)
    def allRows(t: String): Set[Seq[Any]] =
      graft.sources.Warehouse.read(s, dir, s"${t}_cells")
        .select(col("neighbor_id"), col("c_vec"), col("c_norm"), col("cell").cast("long"))
        .collect().map(_.toSeq).toSet
    assert(allRows("r") == allRows("r2"))
  }

  test("indexed probe I/O is partition-pruned: only probed cell= files are read") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(43)
    val dim = 12
    val rows = (0 until 300).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-prune").toString
    Similarity.buildIvfIndex(emb, col("vec_id") >= 10, dir, "p", numCentroids = 16)
    // the cell table is laid out as cell= partition directories
    val allFiles = graft.sources.Warehouse.listDataFiles(s, dir, "p_cells")
    assert(allFiles.nonEmpty && allFiles.forall(_.contains("/cell=")),
      "cell table must be partitioned by cell")
    // a 2-query nProbe=1 probe touches at most 2 of the 16 cells; every
    // cell-table file in the probe plan must lie under a probed cell=
    // dir, and the probe must read strictly fewer files than exist
    val res = Similarity.ivfTopKIndexed(
      emb.filter(col("vec_id") < 2), dir, "p", k = 3, nProbe = 1)
    val cellFilesRead = res.inputFiles.filter(_.contains("p_cells")).distinct
    val probedDirs = cellFilesRead.map(f =>
      f.substring(f.indexOf("cell="), f.indexOf('/', f.indexOf("cell=")))).distinct
    assert(probedDirs.length <= 2,
      s"nProbe=1 with 2 queries probed ${probedDirs.mkString(",")}")
    assert(cellFilesRead.length < allFiles.size,
      "pruned probe must not read the whole index")
    // the report agrees and its loud require passes
    val rep = Similarity.ivfProbeIoReport(
      emb.filter(col("vec_id") < 2), dir, "p", nProbe = 1).collect().head
    assert(rep.getLong(0) == 16L && rep.getLong(1) <= 2L && rep.getBoolean(2))
    // results through the pruned path still equal the live index
    val live = Similarity.ivfTopK(emb, col("vec_id") < 2, col("vec_id") >= 10, 3,
      numCentroids = 16, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == live)
  }

  test("topEigenvector: converges to the planted dominant axis, partition-invariant") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 16
    // planted dominant direction e0: variance 25 along axis 0, ~1 elsewhere
    val rows = (0 until 500).map { i =>
      val v = Array.fill(dim)(0.3f * rnd.nextGaussian().toFloat)
      v(0) = (5.0 * rnd.nextGaussian()).toFloat
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.topEigenvector(emb, iters = 12)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val w = got.map(_._2)
    assert(math.abs(math.abs(w(0)) - 1.0) < 0.02,
      s"dominant axis weight ${w(0)} should be ~±1")
    assert(w.drop(1).forall(x => math.abs(x) < 0.15), "off-axis components small")
    assert(math.abs(got.head._3 / 500.0 - 25.0) < 5.0,
      s"lambda/n ~ planted variance 25, got ${got.head._3 / 500.0}")
    // deterministic under any partitioning (exact-integer Gram pass)
    val again = graft.operators.Similarity.topEigenvector(
      emb.repartition(13), iters = 12)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("ivf staleness: drifted deltas degrade recall, the stats flag it, retraining restores both") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 16
    // initial corpus: 4 tight clusters; the index is built (and
    // Lloyd-refined) on THIS distribution only
    val oldCenters = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val oldRows = (0 until 120).map { i =>
      val c = oldCenters(i % 4)
      (i.toLong + 100L, c.map(v => v + 0.15f * rnd.nextGaussian().toFloat))
    }
    // drift: 4 NEW, WIDE clusters the centroids have never seen —
    // appended via the incremental path. Member dots to the stale
    // centroids are weak (inter-cluster cosines), so the within-cluster
    // spread dominates the argmax and one semantic cluster scatters
    // across many cells — the canonical drift failure mode
    val newCenters = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val newRows = (0 until 120).map { i =>
      val c = newCenters(i % 4)
      (i.toLong + 1000L, c.map(v => v + 0.6f * rnd.nextGaussian().toFloat))
    }
    // queries live in the DRIFTED region
    val qRows = (0 until 8).map { i =>
      (i.toLong, newCenters(i % 4).map(v => v + 0.1f * rnd.nextGaussian().toFloat))
    }
    val all = (oldRows ++ newRows ++ qRows).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-drift").toString
    Similarity.buildIvfIndex(all.filter(col("vec_id").between(100, 999)),
      lit(true), dir, "idx", numCentroids = 8, refineIters = 2)
    Similarity.appendToIvfIndex(all.filter(col("vec_id") >= 1000), dir, "idx")
    val brute = Similarity.bruteForceTopK(all, col("vec_id") < 8, col("vec_id") >= 100, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(table: String): Double = {
      val got = Similarity.ivfTopKIndexed(
        all.filter(col("vec_id") < 8), dir, table, k = 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & brute).size.toDouble / brute.size
    }
    def report(table: String): (Long, Long) = {
      val rows = Similarity.ivfIndexStats(s, dir, table).collect()
      val total = rows.map(_.getAs[Long]("n_vectors")).sum
      // occupancy-weighted mean member->centroid cosine (ppm) and the
      // hottest cell's imbalance
      val wCos = rows.filter(!_.isNullAt(4))
        .map(r => r.getAs[Long]("n_vectors") * r.getAs[Long]("avg_cos_ppm")).sum / total
      (wCos, rows.map(_.getAs[Long]("imbalance_ppm")).max)
    }
    val staleRecall = recallOf("idx")
    val (staleCos, staleImb) = report("idx")
    // retrain: rebuild on the full drifted corpus (the one corpus-sized
    // operation in the lifecycle)
    Similarity.buildIvfIndex(all.filter(col("vec_id") >= 100),
      lit(true), dir, "idx2", numCentroids = 8, refineIters = 2)
    val freshRecall = recallOf("idx2")
    val (freshCos, freshImb) = report("idx2")
    info(s"stale: recall=$staleRecall cos_ppm=$staleCos imb_ppm=$staleImb")
    info(s"fresh: recall=$freshRecall cos_ppm=$freshCos imb_ppm=$freshImb")
    // recall: drift hurts, retraining restores
    assert(staleRecall < freshRecall,
      s"stale=$staleRecall fresh=$freshRecall")
    assert(freshRecall >= 0.8, s"fresh recall $freshRecall")
    // and the index-only report flags it WITHOUT any query workload:
    // members sit visibly further from stale centroids
    assert(staleCos + 100000 < freshCos,
      s"staleness not visible: stale=$staleCos fresh=$freshCos")
  }

  test("ivfRecallDriftReport: flags the stale tier, rebuild clears; stale tier == persisted build+append") {
    val s = spark
    val emb = graft.sources.Tables.table(s, "/root/testdata/sf0.01", "embeddings")
    // the gate's anchored drift fixture: label-anchored clusters,
    // drifted delta on disjoint anchor dims with reversed noise
    import org.apache.spark.sql.functions.{expr, reverse}
    def anch(src: org.apache.spark.sql.DataFrame, off: Int, rev: Boolean) = {
      val noise = if (rev) reverse(col("embedding")) else col("embedding")
      src.select(col("vec_id"), col("label"), noise.as("__n"))
        .select(col("vec_id"), expr(
          s"transform(__n, (x, i) -> IF(i = label * 6 + $off, " +
            "CAST(CAST(x AS DOUBLE) + 1.0D AS FLOAT), x))").as("embedding"))
    }
    val uni = anch(emb.where(col("vec_id") >= 10), 0, rev = false)
      .unionByName(anch(emb.where(col("vec_id") >= 10), 3, rev = true)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      .unionByName(anch(emb.where(col("vec_id") < 10), 3, rev = true))
    val qP = col("vec_id") < 10
    val cP = col("vec_id") >= 10
    val sP = col("vec_id") >= 10 && col("vec_id") < 1000000L
    val rep = Similarity.ivfRecallDriftReport(uni, qP, cP, sP,
      k = 10, nProbe = 1, numCentroids = 16, flagBelowPpm = 600000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(rep("stale")._2, s"stale tier must flag degradation: $rep")
    assert(!rep("rebuilt")._2, s"re-Lloyd on today's corpus must clear the flag: $rep")
    assert(rep("rebuilt")._1 - rep("stale")._1 >= 300000L,
      s"rebuild must restore a wide recall margin: $rep")
    // lifecycle equivalence: the stale tier IS the persisted
    // frozen-centroid index after build(old) + append(delta), row for row
    val dir = java.nio.file.Files.createTempDirectory("ivf-drift-eq").toString
    Similarity.buildIvfIndex(uni, sP, dir, "t", numCentroids = 16, refineIters = 2)
    Similarity.appendToIvfIndex(uni.where(col("vec_id") >= 1000000L), dir, "t")
    val persisted = Similarity.ivfTopKIndexed(uni.where(qP), dir, "t", k = 10, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inPlan = Similarity.ivfTopKSeedSlice(uni, qP, cP, sP,
      k = 10, nProbe = 1, numCentroids = 16, refineIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.operators.Caches.release()
    assert(persisted == inPlan,
      "persisted build+append probe must equal the in-plan seed-slice probe")
  }

  test("k-means refinement improves IVF recall on clustered data and stays deterministic") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    // 8 tight clusters; seeded centroid picks land wherever the hash
    // says, k-means should move them onto the actual cluster centers
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong + 100L, c.map(v => v + 0.1f * rnd.nextGaussian().toFloat))
    } ++ (0 until 8).map(i => (i.toLong, centers(i).map(v => v + 0.05f * rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(iters: Int): Set[(Long, Long)] =
      Similarity.ivfTopK(emb, col("vec_id") < 8, col("vec_id") >= 8, 5,
        numCentroids = 8, nProbe = 1, refineIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seeded = run(0)
    val refined = run(3)
    val recallSeeded = (brute & seeded).size.toDouble / brute.size
    val recallRefined = (brute & refined).size.toDouble / brute.size
    assert(recallRefined >= recallSeeded,
      s"refined=$recallRefined < seeded=$recallSeeded")
    assert(recallRefined >= 0.8, s"refined recall=$recallRefined")
    // fixed-point sums make Lloyd independent of partition order
    assert(run(3) == refined)
  }

  test("kmeansCentroids improves quantization quality over the init") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 8
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + 0.05f * rnd.nextGaussian().toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    // spread but wrong init: random directions (the regime a seeded pick
    // can land in). Lloyd is not guaranteed to recover every planted
    // center (an empty cell keeps its centroid), so assert the property
    // it DOES guarantee: the k-means objective — mean cosine between a
    // vector and its assigned (max-cosine) centroid — goes up.
    val initRnd = new scala.util.Random(23)
    val init = Array.fill(4)(Array.fill(dim)(initRnd.nextGaussian().toFloat))
    val refined = Similarity.kmeansCentroids(emb, init, iters = 5)
    def quality(cents: Array[Array[Float]]): Double = {
      def unit(v: Array[Float]): Array[Double] = {
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (n == 0) v.map(_.toDouble) else v.map(_ / n)
      }
      val cu = cents.map(unit)
      val data = rows.map(_._2)
      data.map { v =>
        val vu = unit(v)
        cu.map(c => c.zip(vu).map { case (a, b) => a * b }.sum).max
      }.sum / data.length
    }
    val qInit = quality(init)
    val qRefined = quality(refined)
    assert(qRefined > qInit + 0.05, s"init=$qInit refined=$qRefined")
    // merged cells cap the ceiling below a perfect 4-for-4 recovery;
    // anything ≥0.85 means centroids moved onto real data directions
    assert(qRefined > 0.85, s"refined quantization quality=$qRefined")
    // fixed-point accumulation: same inputs -> bit-identical centroids
    assert(Similarity.kmeansCentroids(emb, init, iters = 5)
      .map(_.toSeq).toSeq == refined.map(_.toSeq).toSeq)
  }

  test("pqTopK: useful recall vs brute force, deterministic, refine==corpus is exact") {
    val s = spark
    val emb = graft.sources.Tables.table(s, "/root/testdata/sf0.01", "embeddings")
    val q = col("vec_id") < 10
    val c = col("vec_id") >= 10
    val brute = Similarity.bruteForceTopK(emb, q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size
    assert(recall >= 20, s"PQ recall collapsed: $recall/50")
    // same inputs -> bit-identical ranking (fixed-order ADC sum)
    val again = Similarity.pqTopK(emb, q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pq)
    // the Lloyd-trained codebook (the default) must never measure below
    // the untrained seed-slice book it replaced, at equal m/codebookSize
    val slice0 = Similarity.pqTopK(emb, q, c, 5, trainIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recall >= (brute intersect slice0).size,
      s"trained recall $recall < slice recall ${(brute intersect slice0).size}")
    // with the refine window covering the whole corpus, the exact
    // re-rank sees everything: PQ degrades to brute force exactly
    val full = Similarity.pqTopK(emb, q, c, 5, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("ivfPqTopK: useful recall, deterministic, exact at full probe + refine") {
    val s = spark
    val emb = graft.sources.Tables.table(s, "/root/testdata/sf0.01", "embeddings")
    val q = col("vec_id") < 10
    val c = col("vec_id") >= 10
    val brute = Similarity.bruteForceTopK(emb, q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(emb, q, c, 5, numCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // two lossy stages stack (cells bound the candidates, codes rank
    // them) — demand useful-but-lower recall than either tier alone.
    // The testdata embeddings are UNIFORM (no cluster structure), so
    // the measured number is pick-lottery: 22 under the rolling-hash
    // era's consecutive-id seeds, 12 under the avalanched md5 pick —
    // both arbitrary samples of a structureless corpus. The floor pins
    // "useful, not collapsed" (pure chance at k=5 of 490 ≈ 0.5/50);
    // the full-probe case below pins exactness, which is the real
    // contract.
    val recall = (brute intersect ivfpq).size
    assert(recall >= 10, s"IVF-PQ recall collapsed: $recall/50")
    val again = Similarity.ivfPqTopK(emb, q, c, 5, numCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivfpq)
    // probing every cell + refining the whole corpus removes both
    // approximations: the composed tier degrades to brute force exactly
    val full = Similarity.ivfPqTopK(emb, q, c, 5,
      numCentroids = 8, nProbe = 8, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("groupedVectorSums: exact fixed-point sums, invariant under partitioning") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (0, Array(0.5f, -1.25f)),
      (0, Array(0.25f, 0.75f)),
      (1, Array(1.0f, 2.0f))).toDF("label", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.groupedVectorSums(df).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val out = run(emb)
    // (0.5 + 0.25) * 2^24 — exact: these floats are dyadic rationals
    assert(out((0, 0)) == ((2L, 12582912L)))
    assert(out((0, 1)) == ((2L, -8388608L))) // (-1.25 + 0.75) * 2^24
    assert(out((1, 1)) == ((1L, 2L * 16777216L)))
    assert(run(emb.repartition(7)) == out, "sums must not depend on partitioning")
  }

  test("vectorSecondMoments: exact upper-triangle Gram sums, partition-invariant") {
    val s = spark; import s.implicits._
    val q = 16777216L // 2^24
    val emb = Seq(
      (0, Array(0.5f, -1.0f)),
      (1, Array(0.25f, 2.0f))).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.vectorSecondMoments(df).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    val out = run(emb)
    // S_00 = (q/2)^2 + (q/4)^2 ; S_01 = (q/2)(-q) + (q/4)(2q) ; S_11 = q^2 + 4q^2
    assert(out((0, 0)) == ((2L, (q / 2 * (q / 2) + q / 4 * (q / 4)).toString)))
    assert(out((0, 1)) == ((2L, (q / 2 * -q + q / 4 * (2 * q)).toString)))
    assert(out((1, 1)) == ((2L, (q * q * 5).toString)))
    assert(out.size == 3, "upper triangle only")
    assert(run(emb.repartition(5)) == out)
  }

  test("vectorSecondMoments: non-finite or oversized components fail with the input contract") {
    val s = spark; import s.implicits._
    def failure(v: Array[Double]): Throwable = {
      val emb = Seq((0, Array(0.5, -1.0)), (1, v)).toDF("vec_id", "embedding")
      val e = intercept[Exception](Similarity.vectorSecondMoments(emb).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalArgumentException]).getOrElse(e)
    }
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 129.0, -1e300)) {
      val t = failure(Array(0.25, bad))
      assert(t.isInstanceOf[IllegalArgumentException], s"$bad: $t")
      assert(t.getMessage.contains("must be finite with |x|·2^24 ≤ 2^31"), s"$bad: ${t.getMessage}")
    }
    // the bound itself is inside the contract: 128 · 2^24 = 2^31, and
    // its square is summed exactly
    val edge = Seq((0, Array(128.0))).toDF("vec_id", "embedding")
    assert(Similarity.vectorSecondMoments(edge).collect().map(_.getString(3)).toSeq ==
      Seq((BigInt(2).pow(62)).toString))
  }

  test("vectorSecondMoments: a null array element counts as 0.0") {
    // the Seq[Double] input encoder unboxes a null element to 0.0: the
    // row still counts toward every cell of that position
    val s = spark; import s.implicits._
    def run(v: Seq[java.lang.Double]) =
      Similarity.vectorSecondMoments(Seq((0, v)).toDF("vec_id", "embedding"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
    val withNull = run(Seq(0.5, null))
    assert(withNull == run(Seq(0.5, 0.0)))
    assert(withNull.contains((1, 1, 1L, "0")))
  }

  test("annEvalMetrics reports per-query recall@k and RR in integer ppm") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    val dim = 64
    val rows = (0 until 120).map(i =>
      (i.toLong + 10L, Array.fill(dim)(rnd.nextGaussian().toFloat))) ++
      (0 until 4).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val m = Similarity.annEvalMetrics(emb, col("vec_id") < 10, col("vec_id") >= 10, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(m.length == 8, "two tiers x four queries")
    assert(m.forall { case (_, _, h, rec, rr) =>
      h >= 0 && h <= 5 && rec == h * 200000L && rr >= 0 && rr <= 1000000L })
    // rr is 10^6/rank: only exact unit fractions can appear
    val legalRr = Set(0L, 200000L, 250000L, 333333L, 500000L, 1000000L)
    assert(m.forall(t => legalRr.contains(t._5)), s"illegal rr: ${m.toSeq}")
  }

  test("mmrRerank trades relevance for diversity against the plain top-k") {
    val s = spark; import s.implicits._
    // query along x; candidates 10/11 nearly duplicate each other and
    // are most relevant; 12 is less relevant but diverse. Plain top-2 =
    // (10, 11); MMR with lambda=0.7 must pick 12 second.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (10L, Array(0.98f, 0.1f, 0f)),
      (11L, Array(0.97f, 0.12f, 0f)),
      (12L, Array(0.6f, 0f, 0.8f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(emb, col("vec_id") < 10, col("vec_id") >= 10,
      k = 3, poolK = 3, lambda = 0.5)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(got(1) == 10L, "first pick is pure relevance")
    assert(got(2) == 12L, "second pick is the diverse candidate, not the near-dup")
    assert(got(3) == 11L)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 2)
      .collect().map(_.getLong(1)).toSet
    assert(brute == Set(10L, 11L), "plain top-2 keeps the near-dup pair")
    // deterministic under repartitioning
    val re = Similarity.mmrRerank(emb.repartition(5), col("vec_id") < 10,
      col("vec_id") >= 10, k = 3, poolK = 3, lambda = 0.5)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(re == got)
  }

  test("classifyByCentroid assigns held-out vectors to the nearest class prototype") {
    val s = spark; import s.implicits._
    // two well-separated classes on the axes; seeds are ids 0-3,
    // held-out ids 10-13 lie near one axis each
    val emb = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(0.9f, -0.1f), 0),
      (2L, Array(0.1f, 1.0f), 1), (3L, Array(-0.1f, 0.9f), 1),
      (10L, Array(0.8f, 0.2f), 0), (11L, Array(1.0f, 0.0f), 0),
      (12L, Array(0.0f, 1.0f), 1), (13L, Array(0.2f, 0.7f), 0) // mislabeled on purpose
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.classifyByCentroid(emb, col("vec_id") < 10)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got == Map(
      10L -> ((0, 0)), 11L -> ((0, 0)), 12L -> ((1, 1)),
      13L -> ((0, 1)) // true label 0, predicted 1 — the confusion case
    ))
    // partition-count invariance: exact-integer prototypes and scores
    val re = Similarity.classifyByCentroid(emb.repartition(7), col("vec_id") < 10)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(re == got)
    val conf = Similarity.centroidConfusion(emb, col("vec_id") < 10)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(conf == Map((0, 0) -> 2L, (1, 1) -> 1L, (0, 1) -> 1L))
  }

  test("SQ8: codes are int8-range, decode error bounded, tier recall near-exact at full probe") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val emb = (0L until 120L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4 - 2), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    // codes live in [0, 255] — the int8 storage claim
    val codes = Similarity.sqCodes(emb, col("vec_id") >= 10)
    val mm = codes.agg(
      org.apache.spark.sql.functions.min("code"),
      org.apache.spark.sql.functions.max("code")).head()
    assert(mm.getLong(0) >= 0L && mm.getLong(1) <= 255L)
    assert(codes.count() == 110 * 16)
    // at nProbe = numCentroids every cell is probed, so the ONLY
    // approximation is the candidate rounding: recall@5 vs the exact
    // brute tier must be near-perfect (grid step is range/255)
    val sq = Similarity.sqIvfTopK(emb, col("vec_id") < 10, col("vec_id") >= 10,
      k = 5, numCentroids = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 full-probe recall $recall")
    graft.operators.Caches.release()
  }

  test("embDriftReport: a planted per-dimension shift dominates shift_num; partition-invariant") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    // base slice (even ids) and new slice (odd ids) identical in
    // distribution except dim 3, shifted by +0.5 in the new slice
    val rows = (0L until 400L).map { i =>
      val v = Array.fill(8)(rnd.nextFloat())
      if (i % 2 == 1) v(3) = v(3) + 0.5f
      (i, v, 0)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val rep = Similarity.embDriftReport(emb, col("vec_id") % 2 === 0, col("vec_id") % 2 === 1)
      .collect().map(r => r.getInt(0) -> r.getLong(5)).toMap
    val topDim = rep.minBy(_._2)._1 // new mean larger => shift_num most negative
    assert(topDim == 3, s"planted drift dim not ranked first: $rep")
    // exact integers => identical on any partitioning
    val re = Similarity.embDriftReport(emb.repartition(7),
      col("vec_id") % 2 === 0, col("vec_id") % 2 === 1)
      .collect().map(r => r.getInt(0) -> r.getLong(5)).toMap
    assert(re == rep)
  }
}
