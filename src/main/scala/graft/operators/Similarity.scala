package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{vec_dot, vec_mat_dots}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two tiers:
  *   - [[bruteForceTopK]] — exact baseline: query×candidate scan with the
  *     codegen'd FloatVecDot in the inner loop, ranked per query. Right
  *     answer, O(|Q|·|C|); use when |Q| is small or as the verification
  *     oracle.
  *   - [[lshTopK]] — scale path: random-hyperplane LSH buckets both
  *     sides, so the join is an equi-join on (bucket) instead of a cross
  *     join; recall < 1.0 but the shuffle volume drops from |Q|·|C| to
  *     the bucket collision volume. Hyperplanes are generated from a
  *     fixed seed, so results are deterministic.
  */
object Similarity {

  private[operators] def withNorm(emb: DataFrame, vecCol: String, idCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol),
      sqrt(vec_dot(col(vecCol), col(vecCol))).as("norm"))

  /** Exact top-k cosine neighbors for each query row.
    *
    * @param queryPred   rows satisfying this predicate are queries
    * @param candPred    rows satisfying this predicate are candidates
    * Ties and near-ties break deterministically on (cosine desc, id).
    */
  def bruteForceTopK(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val n = withNorm(emb, vecCol, idCol)
    val q = n.where(queryPred).toDF("query_id", "q_vec", "q_norm")
    val c = n.where(candPred).toDF("neighbor_id", "c_vec", "c_norm")
    val cos = vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val w = Window.partitionBy(col("query_id")).orderBy(cos.desc, col("neighbor_id"))
    q.crossJoin(c)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Exact top-k via the single-pass bounded [[graft.functions.TopKAgg]]
    * aggregator instead of a window sort: partial top-k combines
    * map-side, so only k rows per group per map task cross the shuffle
    * (the window variant shuffles and sorts the entire pair stream).
    * Identical output and tie-breaks to [[bruteForceTopK]].
    */
  def bruteForceTopKAgg(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val n = withNorm(emb, vecCol, idCol)
    val q = n.where(queryPred).toDF("query_id", "q_vec", "q_norm")
    val c = n.where(candPred).toDF("neighbor_id", "c_vec", "c_norm")
    val cos = vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val topk = udaf(new graft.functions.TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.Scored]())
    q.crossJoin(c)
      .groupBy(col("query_id"))
      .agg(topk(cos, col("neighbor_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Deterministic random hyperplanes: `numPlanes` × `dim` doubles from a
    * seeded generator.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-random-projection bucket id for a vector column: bit i = sign
    * of dot(v, plane_i). Planes are embedded as float array literals and
    * the dot runs through the codegen'd FloatVecDot — per-row cost is
    * numPlanes tight loops, no interpreted higher-order functions
    * (see graft-spark41 HOF note: interpreted HOFs re-evaluate argument
    * expressions per element).
    */
  def lshBucket(vecCol: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = lit(p.map(_.toFloat))
      when(vec_dot(vecCol, planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed approximate top-k: queries and candidates are hashed
    * into sign-random-projection buckets; ranking happens within each
    * bucket only. Multi-probe (`probeBits` > 0) ORs in neighbor buckets
    * within Hamming distance 1 on the lowest bits to improve recall.
    */
  def lshTopK(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      numPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val n = withNorm(emb, vecCol, idCol)
      .withColumn("bucket", lshBucket(col(vecCol), planes))
    // multi-probe on the query side: original bucket + 1-bit flips
    val probes = explode(array(
      (col("bucket") +: (0 until numPlanes).map(i =>
        col("bucket").bitwiseXOR(shiftleft(lit(1L), i)))): _*))
    val q = n.where(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("norm").as("q_norm"), probes.as("bucket"))
    val c = n.where(candPred)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("norm").as("c_norm"), col("bucket"))
    val cos = vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val w = Window.partitionBy(col("query_id")).orderBy(cos.desc, col("neighbor_id"))
    q.join(c, "bucket")
      .select(col("query_id"), col("neighbor_id"),
        cos.as("cosine"))
      .distinct() // a pair can collide in several probe buckets
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** IVF-Flat approximate top-k: the inverted-file architecture every
    * production vector store uses. Candidates are assigned to their
    * nearest coarse centroid (the "cell"); each query probes its
    * `nProbe` nearest cells and ranks exactly (codegen dot) within the
    * candidates of those cells only. Shuffle volume is one equi-join on
    * the cell id — ~nProbe/numCentroids of the corpus per query versus
    * the brute-force |Q|·|C|.
    *
    * Centroids are `numCentroids` candidate vectors picked in seeded
    * AVALANCHED md5 order and unit-normalized (NOT the linear rolling
    * hash, whose same-prefix clustering makes an ordered pick select
    * CONSECUTIVE ids — a biased, one-corner sample of the corpus; the
    * same argmax-bias note as rendezvous sharding) —
    * deterministic AND engine-portable (the DuckDB oracle replays the
    * pick and every downstream double operation bit-for-bit:
    * `graft.OracleSql.annIvfTopK`), one O(numCentroids·dim) driver
    * collect. `refineIters` > 0 runs that many deterministic Lloyd
    * iterations ([[kmeansCentroids]]) over the candidates to move the
    * seeded picks to real cluster centers (better cell occupancy →
    * better recall at the same nProbe). Cell assignment is an
    * all-builtin argmax: array of codegen'd dots → `array_max` →
    * `array_position`.
    */
  def ivfTopK(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      refineIters: Int = 0): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val n = withNorm(emb, vecCol, idCol)
    val c0 = n.where(candPred)

    val seeded = seedCentroids(c0, numCentroids, seed, vecCol, idCol)
    val centroids =
      if (refineIters <= 0) seeded
      else kmeansCentroids(emb.where(candPred), seeded, refineIters, vecCol)

    probeIvf(n.where(queryPred), assignCells(c0, centroids, vecCol, idCol),
      centroids, k, nProbe, vecCol, idCol)
  }

  /** IVF range search: every (query, candidate) pair with cosine ≥
    * `threshold` among the query's `nProbe` nearest cells — the radius
    * form of [[ivfTopK]] (contamination spread, duplicate-radius
    * audits, "everything within 0.35 of the eval set"). The top-k form
    * bounds result COUNT; this bounds result QUALITY, and the output
    * size is data-dependent — which is why it stays cell-bounded: at
    * 100 TB a brute radius join is |Q|×|C|, while here each query
    * scores nProbe/numCentroids of the corpus through ONE equi-join on
    * the cell id. Same seeded determinism as every IVF tier; the
    * threshold compare replays as the identical fixed expression
    * (`dot/(qn·cn) ≥ t`) in the oracle.
    */
  def ivfRangeSearch(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      threshold: Double,
      numCentroids: Int = 8,
      nProbe: Int = 4,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val n = Caches.persisted(withNorm(emb, vecCol, idCol))
    val c0 = n.where(candPred)
    val centroids = seedCentroids(c0, numCentroids, seed, vecCol, idCol)
    val cells = assignCells(c0, centroids, vecCol, idCol)
    val probeCells = probeCellsExpr(centroids, nProbe, vecCol)
    val q = n.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      col("norm").as("q_norm"), explode(probeCells).as("probe"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        col("probe.cell").as("cell"))
    q.join(cells, "cell")
      .where(vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
        >= lit(threshold))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Build and persist an IVF index for an immutable corpus snapshot:
    * cell assignments as a warehouse table (`<table>_cells`,
    * PARTITIONED BY `cell`) and the unit centroids as a second tiny
    * table (`<table>_centroids`). At 100 TB the index build (centroid
    * pick/refine + one assignment pass) is paid once per corpus
    * version; every subsequent query batch probes the stored cells —
    * [[ivfTopKIndexed]] — instead of re-scanning and re-assigning the
    * corpus. The `cell`-partitioned layout is what makes the probe's
    * nProbe/numCentroids CANDIDATE bound an I/O bound too: a probe
    * lists and reads only its probed cells' files (file-level pruning
    * by construction in [[graft.sources.Warehouse.readPartitions]]),
    * where a flat layout scanned the entire index per query batch —
    * at 10¹⁰ vectors that scan erases the whole compute win. The
    * pre-write `repartition(cell)` keeps file counts at one-per-cell
    * per shuffle task instead of tasks×cells.
    */
  def buildIvfIndex(
      emb: DataFrame,
      candPred: Column,
      dir: String,
      table: String,
      numCentroids: Int = 16,
      seed: Long = 42L,
      refineIters: Int = 0,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val spark = emb.sparkSession
    val n = withNorm(emb, vecCol, idCol)
    val c0 = n.where(candPred)
    val seeded = seedCentroids(c0, numCentroids, seed, vecCol, idCol)
    val centroids =
      if (refineIters <= 0) seeded
      else kmeansCentroids(emb.where(candPred), seeded, refineIters, vecCol)
    val centDf = spark.createDataFrame(
      centroids.toSeq.zipWithIndex.map { case (v, i) => (i + 1L, v.toSeq) })
      .toDF("cell", "centroid")
    graft.sources.Warehouse.overwrite(centDf, dir, s"${table}_centroids")
    graft.sources.Warehouse.overwriteLayout(
      assignCells(c0, centroids, vecCol, idCol).repartition(col("cell")),
      dir, s"${table}_cells", "cell")
  }

  /** The stored centroid matrix, cell-ordered, collected to the driver
    * (tiny — numCentroids·dim floats). */
  private def readCentroids(spark: SparkSession, dir: String, table: String): Array[Array[Float]] =
    graft.sources.Warehouse.read(spark, dir, s"${table}_centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)

  /** [[assignCells]]' fixed output schema — the recovery schema for a
    * cell table every row of which was purged (an empty partitioned
    * directory carries no schema of its own). */
  private val cellSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c_vec",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("c_norm", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.LongType)))

  /** The full stored cell table. `cell` is a PARTITION column on disk
    * (discovery infers int) — cast back to the long the writers and the
    * probe join expect. Full-table reads are for lifecycle maintenance
    * paths only; probes go through [[readCellPartitions]].
    */
  private def readCellTable(spark: SparkSession, dir: String, table: String): DataFrame =
    if (graft.sources.Warehouse.listDataFiles(spark, dir, s"${table}_cells").isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cellSchema)
    else graft.sources.Warehouse.read(spark, dir, s"${table}_cells")
      .withColumn("cell", col("cell").cast("long"))

  /** ONLY the named cells' partitions of the stored cell table —
    * file-level pruned by construction. */
  private def readCellPartitions(spark: SparkSession, dir: String, table: String,
      cellIds: Seq[Long]): DataFrame =
    graft.sources.Warehouse.readPartitions(spark, dir, s"${table}_cells", "cell", cellIds,
      emptySchema = Some(cellSchema))
      .withColumn("cell", col("cell").cast("long"))

  /** Incremental IVF index maintenance: assign a DELTA of new vectors
    * to the EXISTING centroids and append their cell rows — the ANN
    * twin of the incremental dedup index. Ingesting a daily batch
    * costs O(delta·numCentroids) assignment work; the historical
    * corpus and its cell table are never rescanned, and existing cell
    * ids stay stable so cached probe plans remain valid. I/O is bounded
    * by the TOUCHED partitions: the delta is assigned first, the ≤
    * numCentroids touched cells are collected, and only those cells'
    * files are read (replay dedup included — frozen centroids assign a
    * replayed id to the SAME cell, so the anti-join never needs the
    * untouched partitions) and dynamically overwritten. Centroids
    * drift from optimal as the distribution moves — monitor recall vs
    * the brute tier and rebuild (re-Lloyd) when it degrades; that
    * rebuild is the only corpus-sized operation in the lifecycle.
    */
  def appendToIvfIndex(
      delta: DataFrame,
      dir: String,
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val spark = delta.sparkSession
    val centroids = readCentroids(spark, dir, table)
    val assigned = assignCells(withNorm(delta, vecCol, idCol), centroids, vecCol, idCol)
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq // bounded by numCentroids
    if (touched.nonEmpty) {
      val slice = readCellPartitions(spark, dir, table, touched)
      // replay-safe: a delta id already indexed no-ops (id anti-join
      // against its own cell's partition — sufficient under frozen
      // centroids, which re-assign a replayed id to the same cell)
      val fresh = assigned.join(slice.select("neighbor_id"), Seq("neighbor_id"), "left_anti")
      // the write replaces the very partitions `slice` reads: the rows
      // are MATERIALIZED first (eager localCheckpoint — bounded by the
      // touched partitions), because the repartition shuffle alone only
      // orders reads before writes until a shuffle-block loss re-runs a
      // map task against already-replaced files
      graft.sources.Warehouse.overwritePartitions(
        slice.unionByName(fresh).repartition(col("cell")).localCheckpoint(),
        dir, s"${table}_cells", "cell")
    }
  }

  /** RIGHT-TO-BE-FORGOTTEN for the persisted IVF index: rewrite the
    * cell table minus the deleted vectors' rows, so no probe can ever
    * return a deleted id again. One anti-join against the deletion
    * feed; the centroids stay frozen — they are aggregate statistics
    * of the corpus distribution, not retrievable per-vector data, the
    * same frozen-centroid lifecycle [[appendToIvfIndex]] already runs —
    * so the purged index is EXACTLY the index a purge-everything +
    * re-append-survivors rebuild produces (spec-pinned). Replay-safe:
    * deleting an absent id no-ops. I/O: locating the deleted ids'
    * cells is one column-pruned (neighbor_id, cell) scan — the RTBF
    * feed carries ids, not vectors, so the cells can't be derived from
    * frozen centroids — but the REWRITE touches only the partitions
    * that actually held a deleted id, and a partition emptied entirely
    * is dropped outright (dynamic overwrite alone would leave its
    * stale files, and a stale file here is a compliance failure, not a
    * perf bug).
    */
  def deleteFromIvfIndex(
      spark: SparkSession,
      dir: String,
      table: String,
      deletedIds: DataFrame,
      idCol: String = "vec_id"): Unit = {
    val del = deletedIds.select(col(idCol).as("neighbor_id")).distinct()
    val touched = readCellTable(spark, dir, table)
      .join(del, Seq("neighbor_id"), "left_semi")
      .select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq // bounded by numCentroids
    if (touched.nonEmpty) {
      val survivors = readCellPartitions(spark, dir, table, touched)
        .join(del, Seq("neighbor_id"), "left_anti")
      val surviving = survivors.select("cell").distinct()
        .collect().map(_.getLong(0)).toSet
      if (surviving.nonEmpty)
        // materialize-before-replace: see appendToIvfIndex's note
        graft.sources.Warehouse.overwritePartitions(
          survivors.repartition(col("cell")).localCheckpoint(),
          dir, s"${table}_cells", "cell")
      graft.sources.Warehouse.dropPartitions(spark, dir, s"${table}_cells", "cell",
        touched.filterNot(surviving))
    }
  }

  /** CELL-LOCAL incremental re-Lloyd for drifted cells of a persisted
    * IVF index — the anti-entropy pattern (detect, then repair ONLY the
    * dirty slice) applied to the ANN index. The lifecycle's former
    * prescription for centroid drift was a FULL rebuild — the one
    * corpus-sized operation left in the index's life; this bounds the
    * repair by the flagged cells' population instead:
    * [[ivfIndexStats]] / [[ivfRecallDriftReport]] flag the drifted
    * cells, Lloyd re-runs on those cells' vectors only (the dirty
    * partitions are the only ones read), their centroids refresh in
    * the (tiny) centroid table, and the slice is reassigned among the
    * REFRESHED dirty centroids — vectors cannot migrate to clean
    * cells, so clean cell ids stay stable and their partitions are
    * never rewritten (byte-identical before/after, spec-pinned and
    * gate-checked); a dirty cell emptied by the reassignment is
    * dropped. Crash window: the cell rewrite and the centroid-table
    * refresh are two writes — a crash between them leaves a servable
    * index (membership and probe targets disagree only on the dirty
    * cells: a recall dip, never a wrong id) and re-running the repair
    * converges it.
    */
  def recentroidCells(
      spark: SparkSession,
      dir: String,
      table: String,
      dirtyCells: Seq[Long],
      iters: Int = 2,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    require(dirtyCells.nonEmpty, "recentroidCells: empty dirty cell set")
    val centRows = graft.sources.Warehouse.read(spark, dir, s"${table}_centroids")
      .orderBy("cell").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val byCell = centRows.toMap
    val dirty = dirtyCells.distinct.sorted
    require(dirty.forall(byCell.contains),
      s"unknown cell ids in dirty set: ${dirty.filterNot(byCell.contains).mkString(",")}")
    val slice = readCellPartitions(spark, dir, table, dirty)
    // local Lloyd over the dirty slice only, seeded from the dirty
    // cells' current centroids (local index i ↔ dirty(i-1)'s cell id)
    val refreshed = kmeansCentroids(
      slice.select(col("c_vec").as(vecCol)), dirty.map(byCell).toArray, iters, vecCol)
    val reassigned = assignCells(
      withNorm(slice.select(col("neighbor_id").as(idCol), col("c_vec").as(vecCol)),
        vecCol, idCol),
      refreshed, vecCol, idCol)
      .withColumn("cell",
        element_at(lit(dirty.toArray), col("cell").cast("int")))
    val surviving = reassigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    if (surviving.nonEmpty)
      // materialize-before-replace: see appendToIvfIndex's note
      graft.sources.Warehouse.overwritePartitions(
        reassigned.repartition(col("cell")).localCheckpoint(),
        dir, s"${table}_cells", "cell")
    graft.sources.Warehouse.dropPartitions(spark, dir, s"${table}_cells", "cell",
      dirty.filterNot(surviving))
    val refreshedByCell = dirty.zip(refreshed).toMap
    val newCents = spark.createDataFrame(
      centRows.toSeq.map { case (c, v) =>
        (c, refreshedByCell.getOrElse(c, v).toSeq) })
      .toDF("cell", "centroid")
    graft.sources.Warehouse.overwrite(newCents, dir, s"${table}_centroids")
  }

  /** IVF health report — the STALENESS TRIGGER for the incremental
    * index lifecycle. [[appendToIvfIndex]] assigns deltas to frozen
    * centroids; as the corpus distribution drifts away from them,
    * occupancy skews and members sit further from their assigned
    * centroid — and recall at fixed nProbe decays with exactly those
    * two symptoms. One row per cell (empty cells included — a dead
    * cell is a drift symptom, not a missing row):
    *
    *   - `n_vectors` — cell occupancy;
    *   - `share_ppm` — occupancy as integer ppm of the corpus;
    *   - `imbalance_ppm` — `n·numCentroids·10⁶ div total`; 10⁶ means
    *     perfectly balanced, ≫10⁶ flags a hot cell (probing cost and
    *     in-cell dilution), 0 a dead one;
    *   - `avg_cos_ppm` — mean member→assigned-centroid cosine
    *     (floor-ppm per member, integer mean; NULL for empty cells):
    *     the quantization-quality recall proxy. Falling avg_cos_ppm =
    *     centroids no longer represent their members = rebuild
    *     (re-Lloyd) time.
    *
    * Everything after the O(numCentroids·dim) centroid pick is one
    * combinable aggregation over one corpus scan; integer outputs
    * replay exactly under the DuckDB oracle.
    */
  def ivfCellStats(
      emb: DataFrame,
      candPred: Column,
      numCentroids: Int = 16,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      refineIters: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    val n = withNorm(emb, vecCol, idCol)
    val c0 = n.where(candPred)
    val seeded = seedCentroids(c0, numCentroids, seed, vecCol, idCol)
    val centroids =
      if (refineIters <= 0) seeded
      else kmeansCentroids(emb.where(candPred), seeded, refineIters, vecCol)
    val dots = vec_mat_dots(col(vecCol), centroids, col("norm"))
    val assigned = c0
      .select(col(idCol), dots.as("__dots"))
      .select(col(idCol),
        array_position(col("__dots"), array_max(col("__dots"))).as("cell"),
        floor(array_max(col("__dots")) * lit(1000000.0)).as("cos_ppm"))
    val perCell = assigned.groupBy("cell")
      .agg(count(lit(1)).as("__n"), sum(col("cos_ppm")).as("__sum_cos"))
    val totals = perCell.agg(sum(col("__n")).as("__total"))
    spark.range(1, numCentroids + 1L).toDF("cell")
      .join(perCell, Seq("cell"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("cell"),
        coalesce(col("__n"), lit(0L)).as("n_vectors"),
        expr("coalesce(__n, 0L) * 1000000L div __total").as("share_ppm"),
        expr(s"coalesce(__n, 0L) * ${numCentroids}L * 1000000L div __total")
          .as("imbalance_ppm"),
        expr("__sum_cos div __n").as("avg_cos_ppm"))
  }

  /** [[ivfCellStats]] over a PERSISTED index ([[buildIvfIndex]] +
    * [[appendToIvfIndex]]): the same health report computed from the
    * stored cell and centroid tables alone — the corpus is never
    * touched, so the staleness check costs one index scan and can run
    * after every append. Spec-proven equal in shape and semantics to
    * the in-plan report ([[ivfCellStats]]); the drift test shows its
    * numbers move exactly when recall does.
    */
  def ivfIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      table: String): DataFrame = {
    val cents = graft.sources.Warehouse.read(spark, dir, s"${table}_centroids")
    val cells = readCellTable(spark, dir, table)
    val nCellsDf = cents.agg(count(lit(1)).as("__ncells"))
    val perCell = cells.join(broadcast(cents), "cell")
      .select(col("cell"),
        floor(vec_dot(col("c_vec"), col("centroid")) / col("c_norm")
          * lit(1000000.0)).as("cos_ppm"))
      .groupBy("cell")
      .agg(count(lit(1)).as("__n"), sum(col("cos_ppm")).as("__sum_cos"))
    val totals = perCell.agg(sum(col("__n")).as("__total"))
    cents.select(col("cell"))
      .join(perCell, Seq("cell"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nCellsDf))
      .select(
        col("cell"),
        coalesce(col("__n"), lit(0L)).as("n_vectors"),
        expr("coalesce(__n, 0L) * 1000000L div __total").as("share_ppm"),
        expr("coalesce(__n, 0L) * __ncells * 1000000L div __total")
          .as("imbalance_ppm"),
        expr("__sum_cos div __n").as("avg_cos_ppm"))
  }

  /** RECALL-DRIFT report for the frozen-centroid IVF lifecycle — the
    * measurement behind [[appendToIvfIndex]]'s "monitor recall vs the
    * brute tier and re-Lloyd when it degrades" prescription, as a
    * machine-checked number instead of prose. `stalePred` marks the
    * slice the live index's centroids were seeded from; the corpus has
    * since drifted (candPred ⊋ stalePred). The report probes the same
    * sampled queries through (a) the STALE tier — centroids seeded
    * from the pre-drift slice, cell membership covering the FULL
    * current corpus, exactly the state [[buildIvfIndex]] +
    * [[appendToIvfIndex]] leave behind (spec-pinned equal in
    * SimilaritySpec) — and (b) a REBUILT tier seeded from the full
    * corpus, and scores both against the exact brute-force top-k.
    * One row per tier: (tier, n_queries, n_hits, recall_ppm,
    * degraded), with recall_ppm = Σ hits · 10⁶ div (|Q|·k) on the
    * exact integer grid and `degraded` = recall_ppm < flagBelowPpm —
    * the rebuild trigger a lifecycle job alerts on.
    *
    * Eval-tier BY DESIGN: the brute truth is O(|Q|×|C|), so the query
    * set must be a bounded labeled sample (the same discipline as the
    * other recall-measuring tiers); both IVF probes stay
    * cell-equi-join bounded.
    */
  def ivfRecallDriftReport(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      stalePred: Column,
      k: Int,
      nProbe: Int,
      numCentroids: Int = 16,
      seed: Long = 42L,
      flagBelowPpm: Long = 600000L,
      refineIters: Int = 2,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val brute = Caches.persisted(
      bruteForceTopK(emb, queryPred, candPred, k, vecCol, idCol))
    val nq = brute.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("n_queries"))
    // each tier seeds AND Lloyd-refines on its own slice: the stale
    // tier is the index as built pre-drift (its k-means never saw the
    // delta); the rebuilt tier is the re-Lloyd on today's corpus
    def tier(tag: String, slice: Column): DataFrame = {
      val res = ivfTopKSeedSlice(emb, queryPred, candPred, slice,
        k, nProbe, numCentroids, seed, refineIters, vecCol, idCol)
      val hits = res.join(brute.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      nq.crossJoin(hits)
        .select(lit(tag).as("tier"), col("n_queries"), col("n_hits"),
          expr(s"n_hits * 1000000L div (n_queries * ${k}L)").as("recall_ppm"))
        .withColumn("degraded", col("recall_ppm") < flagBelowPpm)
    }
    tier("stale", stalePred).unionByName(tier("rebuilt", candPred))
  }

  /** [[ivfTopK]] with the centroid GEOMETRY (seed pick + Lloyd
    * refinement) taken from a SEPARATE corpus slice: membership covers
    * all of `candPred`, centroids only `seedPred` — the in-plan image
    * of a persisted frozen-centroid index after [[appendToIvfIndex]]
    * deltas (SimilaritySpec pins it equal to build + append +
    * [[ivfTopKIndexed]], row for row). The drift report's stale tier.
    */
  def ivfTopKSeedSlice(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      seedPred: Column,
      k: Int,
      nProbe: Int,
      numCentroids: Int = 16,
      seed: Long = 42L,
      refineIters: Int = 0,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val n = withNorm(emb, vecCol, idCol)
    val seeded = seedCentroids(n.where(seedPred), numCentroids, seed, vecCol, idCol)
    val cents = if (refineIters <= 0) seeded
      else kmeansCentroids(emb.where(seedPred), seeded, refineIters, vecCol)
    probeIvf(n.where(queryPred), assignCells(n.where(candPred), cents, vecCol, idCol),
      cents, k, nProbe, vecCol, idCol)
  }

  /** Probe a persisted IVF index ([[buildIvfIndex]]) — reads centroids
    * (tiny) onto the driver, computes the PROBED CELL SET (the union of
    * every query's nProbe nearest cells — ≤ numCentroids values, one
    * bounded pass over the query batch) and joins the queries against
    * ONLY those cells' partitions of the stored cell table. The corpus
    * is never touched, and neither are the unprobed cells' files: the
    * probe's I/O footprint is nProbe/numCentroids of the index, the
    * same fraction as its compute — a flat layout made every probe
    * batch scan the entire index, which at 10¹⁰ vectors erases the
    * candidate-bounding win ([[ivfProbeIoReport]] machine-checks the
    * footprint the way merge5m tracks `mor_base_files_read`).
    */
  def ivfTopKIndexed(
      queries: DataFrame,
      dir: String,
      table: String,
      k: Int,
      nProbe: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readCentroids(spark, dir, table)
    val q = withNorm(queries, vecCol, idCol)
    val cells = readCellPartitions(spark, dir, table,
      probedCellSet(q, centroids, nProbe, vecCol))
    probeIvf(q, cells, centroids, k, nProbe, vecCol, idCol)
  }

  /** The union of every query's nProbe nearest cells, collected to the
    * driver (≤ numCentroids longs) — the partition-pruning key set for
    * indexed probes. Same (−dot, cell) ordering as [[probeIvf]]'s
    * per-query probe list, so the set is exactly the cells the probe
    * join will touch.
    */
  private def probedCellSet(q0: DataFrame, centroids: Array[Array[Float]],
      nProbe: Int, vecCol: String): Seq[Long] =
    q0.select(explode(probeCellsExpr(centroids, nProbe, vecCol)).as("p"))
      .select(col("p.cell").as("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** I/O-footprint report for a PRUNED indexed probe — the ANN twin of
    * merge5m's `mor_base_files_read` evidence. Recomputes the probed
    * cell set for `queries`, opens the pruned read, and checks against
    * the live table's file listing that (a) every file the probe reads
    * lies under a probed `cell=` partition and (b) the probe read
    * strictly fewer files than the index holds whenever it probed
    * fewer cells than exist. Violations throw (loud, like the merge
    * guards) rather than report false. One row:
    * `(n_cells_total, n_cells_probed, io_pruned)`.
    */
  def ivfProbeIoReport(
      queries: DataFrame,
      dir: String,
      table: String,
      nProbe: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readCentroids(spark, dir, table)
    val probed = probedCellSet(withNorm(queries, vecCol, idCol), centroids, nProbe, vecCol)
    val readFiles = readCellPartitions(spark, dir, table, probed).inputFiles
    val allFiles = graft.sources.Warehouse.listDataFiles(spark, dir, s"${table}_cells")
    val subsetOk = readFiles.nonEmpty &&
      readFiles.forall(f => probed.exists(c => f.contains(s"/cell=$c/")))
    val strictlyPruned = probed.size >= centroids.length || readFiles.length < allFiles.size
    require(subsetOk && strictlyPruned,
      s"IVF probe I/O not pruned: read ${readFiles.length} of ${allFiles.size} files " +
        s"for ${probed.size} of ${centroids.length} cells")
    spark.range(1).select(
      lit(centroids.length.toLong).as("n_cells_total"),
      lit(probed.size.toLong).as("n_cells_probed"),
      lit(true).as("io_pruned"))
  }

  /** Deterministic coarse centroids: hash-ordered candidate vectors,
    * unit-normalized on the driver (tiny, O(numCentroids·dim)).
    */
  /** MD5 fingerprint of a centroid/codebook array — the memo-key
    * fragment for values derived FROM other collected arrays. */
  private def matKey(mat: Array[Array[Float]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(4)
    mat.foreach { row =>
      row.foreach { f => buf.clear(); buf.putFloat(f); md.update(buf.array()) }
      md.update('|'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private[operators] def seedCentroids(c0: DataFrame, numCentroids: Int, seed: Long,
      vecCol: String, idCol: String): Array[Array[Float]] =
    // memoized per (plan, params): every ANN query over the same
    // candidate slice re-derives the identical pick — one corpus scan
    // + collect per SUITE instead of per query (the probe-weights
    // pattern). The value is numCentroids·dim floats of driver memory.
    Memo.cached(c0.sparkSession,
      s"ivfseed|$numCentroids|$seed|$vecCol|$idCol|${Memo.planKey(c0)}") {
      val seeded: Array[Array[Float]] = c0
        .orderBy(md5(concat(lit(s"ivf$seed:"), col(idCol).cast("string"))), col(idCol))
        .limit(numCentroids)
        .select(col(vecCol), col("norm"))
        .collect()
        .map { r =>
          val v = r.getSeq[Float](0).toArray
          val nrm = r.getDouble(1)
          if (nrm == 0.0) v else v.map(x => (x / nrm).toFloat)
        }
      require(seeded.nonEmpty, "IVF: no candidate rows to index")
      seeded
    }

  /** Assign each candidate row to its nearest-centroid cell:
    * `(neighbor_id, c_vec, c_norm, cell)`.
    */
  private[operators] def assignCells(c0: DataFrame, centroids: Array[Array[Float]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // materialize the dot array in its own projection so the argmax
    // reads a column instead of evaluating numCentroids dots twice
    // (centroids are unit vectors, so dot/norm is the cosine)
    c0.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      col("norm").as("c_norm"),
      vec_mat_dots(col(vecCol), centroids, col("norm")).as("__dots"))
      .select(col("neighbor_id"), col("c_vec"), col("c_norm"),
        // argmax cell: 1-based position of the max dot (ties -> first).
        // The coalesce can never fire (__dots is non-empty) — it is
        // here to make `cell` NON-NULLABLE: a nullable join key makes
        // the probe join infer isnotnull(cell), which pushes the whole
        // numCentroids-dot expression into a scan-side filter and
        // re-evaluates it per row (measured 0.86s of ann_ivf_topk's
        // 1.4s at sf0.1 before this)
        coalesce(array_position(col("__dots"), array_max(col("__dots"))), lit(0L))
          .as("cell"))
  }

  /** Each query row's nProbe nearest cells as an array of
    * (neg, cell) structs: sort (−dot, cell idx) ascending, slice
    * nProbe. Shared by the probe join and the partition-pruning key-set
    * collection so the two can never disagree on which cells a query
    * touches. Requires the `norm` column ([[withNorm]]).
    */
  private def probeCellsExpr(centroids: Array[Array[Float]], nProbe: Int,
      vecCol: String): Column = {
    val cellIds = lit(centroids.indices.map(i => (i + 1).toLong).toArray)
    slice(
      array_sort(zip_with(
        vec_mat_dots(col(vecCol), centroids, col("norm")), cellIds,
        (d, c) => struct(d.unary_-.as("neg"), c.as("cell")))),
      1, nProbe)
  }

  /** Probe pre-assigned cells with each query's nProbe nearest
    * centroids and rank candidates exactly.
    */
  private def probeIvf(q0: DataFrame, cells: DataFrame,
      centroids: Array[Array[Float]], k: Int, nProbe: Int,
      vecCol: String, idCol: String): DataFrame = {
    val probeCells = probeCellsExpr(centroids, nProbe, vecCol)
    val q = q0.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      col("norm").as("q_norm"),
      explode(probeCells).as("probe"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        col("probe.cell").as("cell"))

    val cos = vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    q.join(cells, "cell")
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Deterministic distributed spherical k-means (Lloyd) refinement for
    * IVF coarse centroids.
    *
    * Each iteration assigns every candidate to its max-cosine centroid
    * (the same argmax plan as [[ivfTopK]] cell assignment) and
    * recomputes each cell's mean, re-unit-normalized. Per-dimension
    * sums are carried in fixed-point longs (×2^24 — exact integer
    * addition), so centroids do NOT depend on partition/combine order;
    * a plain double sum would make IVF results flap across runs. Cost
    * per iteration: one scan plus a (numCentroids × dim)-row shuffle;
    * the collect is O(numCentroids · dim). At 100 TB, pass a sample
    * (`cand.sample(...)`) — assignment quality needs cluster geometry,
    * not every row. Cells that attract no rows keep their previous
    * centroid.
    */
  def kmeansCentroids(
      cand: DataFrame,
      init: Array[Array[Float]],
      iters: Int,
      vecCol: String = "embedding"): Array[Array[Float]] =
    // memoized per (plan, init, iters): the Lloyd loop is `iters`
    // corpus scans + collects, and the ANN suite re-runs it with
    // identical inputs from several queries
    Memo.cached(cand.sparkSession,
      s"kmeans|$iters|$vecCol|${matKey(init)}|${Memo.planKey(cand)}") {
      kmeansCentroidsUncached(cand, init, iters, vecCol)
    }

  private def kmeansCentroidsUncached(
      cand: DataFrame,
      init: Array[Array[Float]],
      iters: Int,
      vecCol: String): Array[Array[Float]] = {
    val Q = (1L << 24).toDouble
    def unit(v: Array[Double]): Array[Float] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      if (nrm == 0.0) v.map(_.toFloat) else v.map(x => (x / nrm).toFloat)
    }
    var cents = init
    // scanned once per iteration by the assignment job — persist so
    // iterations 2..n skip the source scan and norm recompute
    val base = graft.operators.Caches.persisted(
      cand.select(col(vecCol).as("v"),
        sqrt(vec_dot(col(vecCol), col(vecCol))).as("nrm")))
    for (_ <- 0 until iters) {
      // dot array in its own projection so the argmax reads a column
      val dots = vec_mat_dots(col("v"), cents, col("nrm"))
      val sums = base
        .select(col("v"), dots.as("__dots"))
        .select(col("v"),
          array_position(col("__dots"), array_max(col("__dots"))).as("cell"))
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(round(col("x") * Q).cast("long")).as("qsum"),
          count(lit(1)).as("cnt"))
        .collect()
      val next: Array[Array[Float]] = cents.clone()
      sums.groupBy(_.getLong(0)).foreach { case (cell, rows) =>
        val d = new Array[Double](init.head.length)
        rows.foreach(r => d(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3) / Q)
        next((cell - 1).toInt) = unit(d)
      }
      cents = next
    }
    cents
  }

  /** Product-quantization (PQ) top-k — the memory-compression ANN tier:
    * the corpus is stored as `m` small codes per vector (one byte each
    * at `codebookSize` ≤ 256) instead of `dim` floats, and queries rank
    * candidates from per-query lookup tables over those codes
    * (asymmetric distance computation), touching full vectors only to
    * re-rank the short candidate list exactly.
    *
    *   1. codebook: seeded from `codebookSize` corpus vectors picked in
    *      the portable avalanched-md5 order (the IVF seed-pick
    *      mechanism), then `trainIters` rounds of per-subspace Lloyd
    *      ([[trainSubspaceCodebooks]]) — each subspace's entries
    *      k-means-converge onto that subspace's actual variance, which
    *      raw corpus slices only sample (measured recall strictly
    *      above the untrained slice codebook at equal m/codebookSize;
    *      SimilaritySpec pins the comparison). `trainIters = 0` keeps
    *      the untrained slice tier;
    *   2. encode: per subspace `s`, each candidate's code is the
    *      MIN-L2 codebook entry of its slice (argmax of
    *      dot − ‖entry‖²/2, first-max tie-break — the same metric the
    *      training loop assigns with, so codes use the codebook the
    *      way it was fit) — one pass, m·codebookSize codegen'd
    *      sub-dots per row;
    *   3. ADC: each query precomputes `m` LUT arrays (its slice dotted
    *      with every codebook slice — `m·codebookSize` sub-dots on the
    *      QUERY side only); scoring a candidate is then `m` array
    *      lookups + adds, summed in fixed subspace order so the double
    *      is engine-identical;
    *   4. exact re-rank of the top `refine` per query by true cosine.
    *
    * At 100 TB the scan reads `m` bytes per vector instead of
    * `4·dim` — a 32× IO/memory cut at the defaults — and the exact
    * tier touches only `|Q|·refine` full vectors. Training is
    * `trainIters` corpus scans paid once per corpus version (memoized
    * per plan+params here; a persisted index stores the codebook).
    */
  def pqTopK(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      m: Int = 4,
      codebookSize: Int = 16,
      refine: Int = 50,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      trainIters: Int = 2): DataFrame = {
    val n = withNorm(emb, vecCol, idCol)
    val c0 = n.where(candPred)
    // trained codebooks, memoized per (candidate plan, params): the
    // seed collect + trainIters training collects run once per suite
    val cb: Array[Array[Array[Float]]] = Memo.cached(emb.sparkSession,
      s"pqrawcb|$m|$codebookSize|$seed|$trainIters|$vecCol|${Memo.planKey(c0)}") {
      // raw (unnormalized) codebook seeds — slices of real corpus vectors
      val picks: Array[Array[Float]] = c0
        .orderBy(md5(concat(lit(s"pq$seed:"), col(idCol).cast("string"))), col(idCol))
        .limit(codebookSize)
        .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
      require(picks.nonEmpty, "PQ: no candidate rows to index")
      val dim0 = picks.head.length
      require(dim0 % m == 0, s"dim=$dim0 not divisible by m=$m subspaces")
      val subDim0 = dim0 / m
      trainSubspaceCodebooks(c0, col(vecCol), m,
        Array.tabulate(m, codebookSize)((s, cI) =>
          picks(cI).slice(s * subDim0, (s + 1) * subDim0)),
        trainIters)
    }
    val subDim = cb(0)(0).length
    def sl(c: Column, s: Int): Column = slice(c, s * subDim + 1, subDim)
    def subDots(v: Column, s: Int): Column =
      vec_mat_dots(sl(v, s), cb(s), lit(1.0))
    // min-L2 code assignment (the training metric): dot − ‖entry‖²/2
    def l2Adj(v: Column, s: Int): Column =
      zip_with(subDots(v, s), lit(cb(s).map(halfNormOf)), (d, h) => d - h)

    // encode: dot arrays materialized in their own projection so the
    // argmax reads a column (assignCells pattern)
    val withDots = c0.select(
      col(idCol).as("neighbor_id") +: col(vecCol).as("c_vec") +: col("norm").as("c_norm") +:
        (0 until m).map(s => l2Adj(col(vecCol), s).as(s"__d$s")): _*)
    val codes = withDots.select(
      col("neighbor_id") +: col("c_vec") +: col("c_norm") +:
        (0 until m).map(s =>
          array_position(col(s"__d$s"), array_max(col(s"__d$s"))).as(s"code_$s")): _*)

    val q0 = n.where(queryPred).select(
      col(idCol).as("query_id") +: col(vecCol).as("q_vec") +: col("norm").as("q_norm") +:
        (0 until m).map(s => subDots(col(vecCol), s).as(s"__lut$s")): _*)

    // fixed subspace order: left-associated + over doubles
    val adc = (0 until m)
      .map(s => element_at(col(s"__lut$s"), col(s"code_$s").cast("int")))
      .reduce(_ + _)
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__adc").desc, col("neighbor_id"))
    val refined = codes.crossJoin(broadcast(q0))
      .withColumn("__adc", adc)
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= refine)

    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    refined
      .withColumn("__cos",
        vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(wExact).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Per-dimension affine int8 quantization grid over the candidate
    * corpus: `(dim, mn, mx)` — the scalar-quantization (SQ8) codec a
    * memory-tiered vector store trains once per corpus version. One
    * combinable min/max aggregation; the grid is dim-sized.
    */
  def sqGrid(
      emb: DataFrame,
      candPred: Column,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    emb.where(candPred)
      .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy("dim")
      .agg(min(col("__x")).as("mn"), max(col("__x")).as("mx"))

  /** The SQ8 code for one vector element: `round((x − mn)·255 / (mx −
    * mn))` in fixed double order (0 when the dimension is constant).
    * Candidate values lie inside the observed [mn, mx] by
    * construction, so codes are already in [0, 255] — no clamp.
    */
  private def sqCode(x: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L)).otherwise(
      round(((x.cast("double") - mn) * lit(255.0)) / (mx - mn)).cast("long"))

  /** Exploded SQ8 codes of the candidate corpus: `(idCol, dim, code)`.
    * Gates the quantizer bit-for-bit (the DuckDB oracle replays the
    * grid and the affine rounding); [[sqIvfTopK]] consumes the same
    * codec inline.
    */
  def sqCodes(
      emb: DataFrame,
      candPred: Column,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val grid = sqGrid(emb, candPred, vecCol, idCol)
    emb.where(candPred)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .join(broadcast(grid), "dim")
      .select(col(idCol), col("dim"),
        sqCode(col("__x"), col("mn").cast("double"), col("mx").cast("double"))
          .as("code"))
  }

  /** SQ8-compressed IVF top-k — the memory-tier composition: candidates
    * are stored as int8 codes (4× smaller than float32; at 100 TB of
    * embeddings that is the difference between RAM-resident and not),
    * cells bound the probe volume exactly as [[ivfTopK]], and scoring
    * is ASYMMETRIC (Faiss SQ convention): the raw query against the
    * DECODED candidate `x̂ᵢ = mn_i + code_i·(mx_i − mn_i)/255` — the
    * query side loses no precision, so the only recall cost is the
    * candidate rounding.
    *
    * Deterministic end-to-end: the grid is an exact float min/max, the
    * encode/decode are fixed-order double affine maps, and the final
    * cosine is the codegen [[graft.functions.vec_dot]] over the decoded
    * float vector — every step replays bit-for-bit in DuckDB
    * ([[graft.OracleSql.annSqIvfTopK]]).
    *
    * Shape at 100 TB: identical to [[ivfTopK]] (cell equi-join, probe
    * list per query, one window) with the candidate payload 4× smaller;
    * the grid is a dim-row broadcast. Recall is monitored the same way
    * as every approximate tier (SimilaritySpec measures it against the
    * brute oracle at sample scale).
    */
  def sqIvfTopK(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val n = withNorm(emb, vecCol, idCol)
    val c0 = n.where(candPred)
    val centroids = seedCentroids(c0, numCentroids, seed, vecCol, idCol)

    // the codec grid: dim-sized, collected once (same documented
    // bounded-collect tier as the centroid pick)
    val g = sqGrid(emb, candPred, vecCol, idCol).orderBy("dim").collect()
    val mns = g.map(r => r.getFloat(1).toDouble)
    val mxs = g.map(r => r.getFloat(2).toDouble)
    val mnLit = lit(mns)
    val mxLit = lit(mxs)

    // decoded candidate vector (what the store would reconstruct from
    // its int8 codes): encode then decode, per element, fixed order
    def decoded(v: Column) = transform(v, (x, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      val code = sqCode(x, mn, mx)
      (mn + code.cast("double") * ((mx - mn) / lit(255.0))).cast("float")
    })
    val cells = assignCells(c0, centroids, vecCol, idCol)
      .withColumn("c_dec", decoded(col("c_vec")))
      .withColumn("c_dec_norm", sqrt(vec_dot(col("c_dec"), col("c_dec"))))
      .select("neighbor_id", "c_dec", "c_dec_norm", "cell")

    // probe exactly like ivfTopK, score against the decoded candidate
    val cellIds = lit(centroids.indices.map(i => (i + 1).toLong).toArray)
    val probeCells = slice(
      array_sort(zip_with(
        vec_mat_dots(col(vecCol), centroids, col("norm")), cellIds,
        (d, c) => struct(d.unary_-.as("neg"), c.as("cell")))),
      1, nProbe)
    val q = n.where(queryPred).select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      col("norm").as("q_norm"), explode(probeCells).as("probe"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        col("probe.cell").as("cell"))
    val cos = vec_dot(col("q_vec"), col("c_dec")) / (col("q_norm") * col("c_dec_norm"))
    q.join(cells, "cell")
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Per-group element-wise vector sums in deterministic fixed point —
    * the distributed primitive behind label centroids, class
    * prototypes, and embedding-drift monitoring.
    *
    * A float sum is partition-order-dependent (addition doesn't
    * associate in IEEE); quantizing each component to `2^scaleBits`
    * fixed point FIRST makes the per-dimension sum an exact integer —
    * identical on any partitioning, any engine (the same trick
    * [[kmeansCentroids]] uses internally). Quantization is exact for
    * floats when scaleBits ≥ the float mantissa (24): ×2²⁴ is a
    * power-of-two scale. The consumer divides by `n·2^scaleBits` for
    * the mean.
    *
    * Shape at scale: posexplode to (group, dim, x) then ONE
    * partial-aggregatable groupBy — map-side combine collapses each
    * task to groups×dims rows before the shuffle.
    */
  def groupedVectorSums(
      emb: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding",
      scaleBits: Int = 24): DataFrame = {
    val q = math.pow(2, scaleBits)
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col(labelCol), col("dim"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(round(col("__x").cast("double") * q).cast("long")).as("sum_fp"))
  }

  /** Per-dimension embedding drift between two corpus slices — the
    * monitoring report an embedding pipeline runs when a new encoder
    * version / new corpus batch lands: which dimensions moved, and by
    * how much. Everything is exact integers: per-slice counts and
    * fixed-point component sums (the [[groupedVectorSums]] quantizer),
    * and `shift_num = sum_base·n_new − sum_new·n_base` — the mean
    * difference scaled by `q·n_base·n_new`, so sign and magnitude
    * ranking are partition-order-independent and engine-identical.
    *
    * Overflow headroom: |sum_fp| ≤ q·max|x|·n, so shift_num needs
    * `q·max|x|·n_base·n_new < 2⁶³` — at q=2²⁴ and unit-scale
    * components that is ~5·10⁵ vectors per slice; monitor drift on a
    * sampled slice beyond that (drift is a distributional signal, it
    * does not need every row), or lift the sums to decimal(38,0) (the
    * [[vectorSecondMoments]] pattern).
    *
    * Shape at 100 TB: two combinable (slice, dim)-keyed aggregations
    * joined on a dim-sized table. No collect.
    */
  def embDriftReport(
      emb: DataFrame,
      basePred: Column,
      newPred: Column,
      scaleBits: Int = 24,
      vecCol: String = "embedding"): DataFrame = {
    def slice(pred: Column, nName: String, sName: String) =
      groupedVectorSums(
        emb.where(pred).withColumn("__g", lit(0)), "__g", vecCol, scaleBits)
        .select(col("dim"), col("n_vecs").as(nName), col("sum_fp").as(sName))
    slice(basePred, "n_base", "sum_fp_base")
      .join(slice(newPred, "n_new", "sum_fp_new"), "dim")
      .select(col("dim"), col("n_base"), col("n_new"),
        col("sum_fp_base"), col("sum_fp_new"),
        (col("sum_fp_base") * col("n_new") - col("sum_fp_new") * col("n_base"))
          .as("shift_num"))
  }

  /** Exact-integer second-moment matrix of an embedding column — the
    * Gram/covariance accumulation behind PCA, whitening, and embedding
    * drift monitors. Emits the upper triangle `(i, j, n_vecs,
    * sumprod_fp)` where `sumprod_fp = Σ q(xᵢ)·q(xⱼ)` over all vectors,
    * components quantized to `q(x) = HALF_UP(x·2^scaleBits)` first —
    * integer products summed exactly (128-bit cells, emitted as a digit
    * string like the other exact-sum queries), so the matrix is
    * partition-order-independent and engine-identical. Centering:
    * covariance = (S_ij − S_i·S_j/n)/n from this plus
    * [[groupedVectorSums]]' first moments — left to the consumer to
    * keep every gated number integer.
    *
    * Input contract ([[graft.functions.GramAgg]]): components finite
    * with |x|·2^scaleBits ≤ 2^31 (|x| ≤ 128 at 24 bits), else the query
    * fails with an IllegalArgumentException naming the contract. A null
    * vector contributes nothing; a null element reads as 0.0.
    *
    * Shape at 100 TB: one typed Aggregator; each map task folds its
    * rows into a dim·(dim+1)/2-cell buffer of primitive longs, and the
    * single shuffle moves one buffer per task — reduce volume is
    * O(dim²), independent of corpus size. For dim beyond ~1k, switch to
    * blocked accumulation (tile the pair space); at 64–256 dims this
    * direct form is the right plan.
    */
  def vectorSecondMoments(
      emb: DataFrame,
      vecCol: String = "embedding",
      scaleBits: Int = 24): DataFrame = {
    // ONE combinable aggregate over primitive long arrays
    // ([[graft.functions.GramAgg]]) instead of the posexplode² +
    // groupBy form, which generated dim·(dim+1)/2 rows PER VECTOR
    // through a decimal(38,0) hash aggregate. Same quantization, same
    // exact-integer sums, bit-identical output (the cast to
    // array<double> is lossless for float embeddings — the old form
    // cast each element to double too).
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val gram = udaf(new graft.functions.GramAgg(scaleBits),
      ExpressionEncoder[Seq[Double]]())
    emb
      .select(col(vecCol).cast("array<double>").as("__v"))
      .agg(gram(col("__v")).as("__g"))
      .select(explode(col("__g")).as("__c"))
      .select(col("__c.i").as("i"), col("__c.j").as("j"),
        col("__c.n_vecs").as("n_vecs"), col("__c.sumprod_fp").as("sumprod_fp"))
  }

  /** Merge [[vectorSecondMoments]] outputs — the O(delta) PCA/Gram
    * maintenance primitive: second moments are ADDITIVE exact integers,
    * so yesterday's materialized Gram plus the delta batch's Gram
    * equals the full-corpus rebuild EXACTLY (not approximately), and
    * anything derived from the moments ([[topEigenvector]], whitening,
    * covariance) refreshes at delta cost. One metadata-sized (dim²
    * rows per part) keyed sum.
    */
  def mergeSecondMoments(parts: DataFrame): DataFrame =
    parts.groupBy("i", "j").agg(
      sum(col("n_vecs")).as("n_vecs"),
      sum(col("sumprod_fp").cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").as("sumprod_fp"))

  /** DOMINANT PRINCIPAL DIRECTION of the embedding cloud by
    * fixed-count POWER ITERATION over the exact-integer second-moment
    * matrix — the one-component PCA a curation pipeline reads
    * (dominant-axis drift, whitening direction, leading-direction
    * variance share) without an eigensolver dependency.
    *
    * Scale shape: the ONLY data-sized step is [[vectorSecondMoments]]
    * (one O(N·dim²) combinable pass); the dim×dim matrix (metadata —
    * 64² cells) collects to the driver and iterates there, exactly the
    * centroid discipline the IVF family uses. Determinism: the Gram
    * cells are exact integers, the iteration is a FIXED count of
    * IEEE-double ops in a FIXED accumulation order (ascending j per
    * row, ascending i for norms), and the all-ones start is pinned —
    * so both engines replay the identical trajectory bit-for-bit and
    * the 6-sig-fig gate grid never wobbles. `lambda_est` is the final
    * iterate's ‖A·x‖ — the dominant-eigenvalue estimate (the
    * second-moment variance along the direction, in the raw value
    * scale).
    */
  def topEigenvector(
      emb: DataFrame,
      iters: Int = 8,
      vecCol: String = "embedding",
      scaleBits: Int = 24): DataFrame = {
    val spark = emb.sparkSession
    val cells = vectorSecondMoments(emb, vecCol, scaleBits).collect()
    val denom = math.pow(2, 2 * scaleBits)
    val dim = cells.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Double](dim, dim)
    cells.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val v = new java.math.BigDecimal(r.getString(3)).doubleValue() / denom
      m(i)(j) = v; m(j)(i) = v
    }
    var x = Array.fill(dim)(1.0)
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val y = Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += m(i)(j) * x(j); j += 1 }
        acc
      }
      var n2 = 0.0; var i = 0
      while (i < dim) { n2 += y(i) * y(i); i += 1 }
      lambda = math.sqrt(n2)
      x = y.map(_ / lambda)
    }
    spark.createDataFrame(
      x.toSeq.zipWithIndex.map { case (w, i) => (i, w, lambda) })
      .toDF("i", "w", "lambda_est")
  }

  /** Per-entry half squared norm, left-associated double — the min-L2
    * assignment's affine term (argmin ‖v − e‖² = argmax of
    * dot(v, e) − ‖e‖²/2), textually mirrored in the oracles.
    */
  private def halfNormOf(p: Array[Float]): Double = {
    var acc = 0.0
    var j = 0
    while (j < p.length) { acc += p(j).toDouble * p(j).toDouble; j += 1 }
    acc / 2.0
  }

  /** `iters` rounds of deterministic per-subspace Lloyd over the
    * subspace slices of `vec` — the PQ codebook trainer shared by the
    * residual (IVF-PQ) and raw-vector (PQ) tiers. Assignment is min-L2
    * (argmax of dot − ‖entry‖²/2, first-max tie-break); means are the
    * kmeansCentroids discipline (exact ×2^24 fixed-point integer sums,
    * the left-associated qsum/cnt/Q double mean, float cast) so
    * codebooks are partition-order-invariant and both engines replay
    * them bit-for-bit; entries that attract no rows keep their previous
    * value. Each iteration is ONE job over `src` (all m subspaces in
    * one explode) collecting m·codebookSize·subDim rows; at 100 TB pass
    * a sample — codebook quality needs slice geometry, not every row.
    */
  private def trainSubspaceCodebooks(
      src: DataFrame,
      vec: Column,
      m: Int,
      init: Array[Array[Array[Float]]],
      iters: Int): Array[Array[Array[Float]]] = {
    val subDim0 = init(0)(0).length
    def sl0(c: Column, s: Int): Column = slice(c, s * subDim0 + 1, subDim0)
    def adj(mat: Array[Array[Array[Float]]], s: Int): Column =
      zip_with(
        vec_mat_dots(sl0(vec, s), mat(s), lit(1.0)),
        lit(mat(s).map(halfNormOf)),
        (d, h) => d - h)
    val Q = (1L << 24).toDouble
    var mat = init
    for (_ <- 0 until iters) {
      val coded = src.select(
        vec.as("__v") +: (0 until m).map(s =>
          array_position(adj(mat, s), array_max(adj(mat, s))).as(s"__c$s")): _*)
      val sums = coded
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), col(s"__c$s").as("code"),
            sl0(col("__v"), s).as("slice"))): _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.slice")).as(Seq("d", "x")))
        .groupBy("s", "code", "d")
        .agg(sum(round(col("x").cast("double") * Q).cast("long")).as("qsum"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = mat.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt - 1)(r.getInt(2)) =
          ((r.getLong(3).toDouble / r.getLong(4).toDouble) / Q).toFloat
      }
      mat = next
    }
    mat
  }

  /** IVF-PQ: the composed production ANN tier — Lloyd-refined IVF
    * coarse cells cut the candidate set to the `nProbe` nearest cells
    * per query, RESIDUAL-encoded PQ byte-codes + per-query lookup
    * tables (ADC) rank those candidates without touching raw vectors,
    * and the top `refine` survivors are exactly re-ranked. The
    * architecture real vector stores run at billion scale: cells bound
    * WHICH vectors are scored, codes bound WHAT a score costs
    * (m lookups+adds vs dim multiplies) and shrink the scan
    * 4·dim/m-fold.
    *
    * Residual form (FAISS): each vector is coded as (unit vector −
    * its unit cell centroid), codes are min-L2 against `trainIters`
    * Lloyd-trained per-subspace codebooks, and the ADC adds the exact
    * coarse term dot(q, centroid) so scores compare across cells —
    * measured recall 22/50 vs 20/50 for raw-vector encoding at the
    * same m/codebookSize on the sf0.01 fixture. Every constant is
    * seeded, every argmax first-max, every mean an exact fixed-point
    * integer fold, and the ADC sum runs in fixed subspace order — the
    * full pipeline (including both k-means loops) replays bit-for-bit
    * in the DuckDB oracle (`graft.OracleSql.annIvfPqTopK`).
    *
    * Shape at 100 TB: centroid pick + assignment as in IVF (one scan,
    * one argmax projection); encoding is map-side; the probe join is
    * ONE equi-join on the cell id whose fan-in per query is
    * nProbe/numCentroids of the corpus — on the CODE columns only;
    * the exact re-rank touches |Q|·refine raw vectors.
    */
  def ivfPqTopK(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      numCentroids: Int = 8,
      nProbe: Int = 4,
      m: Int = 4,
      codebookSize: Int = 16,
      refine: Int = 50,
      seed: Long = 42L,
      trainIters: Int = 2,
      refineIters: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val n = Caches.persisted(withNorm(emb, vecCol, idCol))
    val (centroids, cb, codes) = ivfPqArtifacts(emb, n, candPred,
      numCentroids, m, codebookSize, seed, trainIters, refineIters, vecCol, idCol)
    ivfPqProbe(n.where(queryPred), codes, centroids, cb,
      k, nProbe, refine, vecCol, idCol)
  }

  /** The IVF-PQ index ARTIFACTS — Lloyd-refined coarse centroids,
    * trained residual codebooks, and the encoded candidate table
    * (neighbor_id, c_vec, c_norm, cell, code_0..m−1) — shared by the
    * in-plan tier ([[ivfPqTopK]]) and the persisted index
    * ([[buildIvfPqIndex]]), so the two can never encode differently.
    * `n` must be [[withNorm]] over the same `emb`.
    */
  private def ivfPqArtifacts(
      emb: DataFrame,
      n: DataFrame,
      candPred: Column,
      numCentroids: Int,
      m: Int,
      codebookSize: Int,
      seed: Long,
      trainIters: Int,
      refineIters: Int,
      vecCol: String,
      idCol: String): (Array[Array[Float]], Array[Array[Array[Float]]], DataFrame) = {
    val c0 = n.where(candPred)
    // Lloyd-refined coarse centroids (same deterministic fixed-point
    // machinery as ivfTopK's refineIters; lloydChain is the replay):
    // residual encoding lives or dies on cell tightness — seeded picks
    // leave cells wide, residuals large, and 4-bit codes can't span
    // them, while refined cells concentrate most of the energy in the
    // coarse term and leave the codes a small, codable remainder
    val centroids = kmeansCentroids(
      c0, seedCentroids(c0, numCentroids, seed, vecCol, idCol),
      refineIters, vecCol)
    val cells = assignCells(c0, centroids, vecCol, idCol)

    // the residual table — every training pass and the encoder read it
    val withRes = Caches.persisted(residualsOf(cells, centroids))

    // trained codebooks, memoized per (candidate plan, centroids,
    // params): the seed collect + trainIters training collects run
    // once per suite, not once per query (task-level cost: the whole
    // value is m·codebookSize·subDim floats)
    val cb: Array[Array[Array[Float]]] = Memo.cached(emb.sparkSession,
      s"pqcb|$m|$codebookSize|$seed|$trainIters|${matKey(centroids)}|${Memo.planKey(c0)}") {
      // codebook seed: the same md5-ordered pick, but each picked row
      // is stored as its unit-vector RESIDUAL (cells carries the
      // pick's cell; normalization and subtraction happen at collect
      // time, driver-side, in the exact float32 steps both engines
      // replay)
      val seedPicks: Array[Array[Float]] = cells
        .orderBy(md5(concat(lit(s"pq$seed:"), col("neighbor_id").cast("string"))),
          col("neighbor_id"))
        .limit(codebookSize)
        .select(col("c_vec"), col("cell"), col("c_norm")).collect()
        .map { r =>
          val v = r.getSeq[Float](0).toArray
          val c = centroids(r.getLong(1).toInt - 1)
          val nrm = r.getDouble(2)
          Array.tabulate(v.length)(j => (v(j).toDouble / nrm).toFloat - c(j))
        }
      require(seedPicks.nonEmpty, "IVF-PQ: no candidate rows to index")
      val dim0 = seedPicks.head.length
      require(dim0 % m == 0, s"dim=$dim0 not divisible by m=$m subspaces")
      val subDim0 = dim0 / m
      // per-subspace Lloyd training of the residual codebooks — random
      // residual slices are noise-like and rank candidates poorly; a
      // few k-means rounds concentrate each subspace's entries on that
      // subspace's actual variance ([[trainSubspaceCodebooks]]).
      trainSubspaceCodebooks(withRes, col("__res"), m,
        Array.tabulate(m, codebookSize)((s, cI) =>
          seedPicks(cI).slice(s * subDim0, (s + 1) * subDim0)),
        trainIters)
    }
    (centroids, cb, pqCodesOf(withRes, cb))
  }

  /** The unit-vector RESIDUAL table of cell-assigned candidates — the
    * FAISS IVF-PQ form: every vector coded as (UNIT vector − its unit
    * cell centroid), so (a) the codebook's entries spend their entire
    * budget on intra-cell variance instead of re-describing cell
    * means, and (b) the ADC estimate dot(q, centroid + residual̂) ≈
    * dot(q, v/‖v‖) is proportional to the COSINE the final ranking
    * uses. All float arithmetic (normalize = double divide cast back
    * to float32, subtract in float32) is textually mirrored in the
    * oracle, so the replay stays bit-exact. Shared by the index build
    * and the frozen-artifact delta append so the two can never encode
    * differently.
    */
  private def residualsOf(cells: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    cells.withColumn("__res",
      zip_with(
        transform(col("c_vec"), x => (x.cast("double") / col("c_norm")).cast("float")),
        element_at(centLit, col("cell").cast("int")),
        (a, b) => a - b))
  }

  /** MIN-L2 PQ codes of a residual table against trained codebooks
    * (argmin ‖r − entry‖² = argmax of dot − ‖entry‖²/2 — residuals are
    * zero-centered, so a raw-dot argmax ignores magnitude and
    * quantizes them badly): (neighbor_id, c_vec, c_norm, cell,
    * code_0..m−1).
    */
  private def pqCodesOf(withRes: DataFrame,
      cb: Array[Array[Array[Float]]]): DataFrame = {
    val m = cb.length
    val subDim = cb(0)(0).length
    def sl(c: Column, s: Int): Column = slice(c, s * subDim + 1, subDim)
    def l2Adjusted(v: Column, s: Int): Column =
      zip_with(
        vec_mat_dots(sl(v, s), cb(s), lit(1.0)),
        lit(cb(s).map(halfNormOf)),
        (d, h) => d - h)
    val withDots = withRes.select(
      col("neighbor_id") +: col("c_vec") +: col("c_norm") +: col("cell") +:
        (0 until m).map(s => l2Adjusted(col("__res"), s).as(s"__d$s")): _*)
    withDots.select(
      col("neighbor_id") +: col("c_vec") +: col("c_norm") +: col("cell") +:
        (0 until m).map(s =>
          array_position(col(s"__d$s"), array_max(col(s"__d$s"))).as(s"code_$s")): _*)
  }

  /** The IVF-PQ probe over an encoded candidate table
    * (neighbor_id, c_vec, c_norm, cell, code_*): per-query residual
    * LUTs + coarse term, ADC ranking restricted to probed cells, exact
    * cosine re-rank of the `refine` survivors. `q0` must carry
    * [[withNorm]]'s `norm`.
    */
  private def ivfPqProbe(
      q0: DataFrame,
      codes: DataFrame,
      centroids: Array[Array[Float]],
      cb: Array[Array[Array[Float]]],
      k: Int,
      nProbe: Int,
      refine: Int,
      vecCol: String,
      idCol: String): DataFrame = {
    val m = cb.length
    val subDim = cb(0)(0).length
    def sl(c: Column, s: Int): Column = slice(c, s * subDim + 1, subDim)
    def subDots(v: Column, s: Int): Column =
      vec_mat_dots(sl(v, s), cb(s), lit(1.0))
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    def cvecOf(cell: Column): Column = element_at(centLit, cell.cast("int"))
    // queries: nProbe nearest cells (ivfTopK's probe) + residual LUTs.
    // The LUT dots the RAW query against each residual codebook entry;
    // the coarse term dot(q, cell centroid) is added per probed cell so
    // the ADC approximates dot(q, centroid + residual̂) = dot(q, v̂)
    // comparably ACROSS cells.
    val probeCells = probeCellsExpr(centroids, nProbe, vecCol)
    val q = q0.select(
      col(idCol).as("query_id") +: col(vecCol).as("q_vec") +: col("norm").as("q_norm") +:
        explode(probeCells).as("probe") +:
        (0 until m).map(s => subDots(col(vecCol), s).as(s"__lut$s")): _*)
      .withColumn("cell", col("probe.cell")).drop("probe")
      .withColumn("__coarse", vec_dot(col("q_vec"), cvecOf(col("cell"))))

    // fixed order: coarse first, then subspaces left-associated, all in
    // doubles — mirrored textually in the oracle
    val adc = (0 until m)
      .map(s => element_at(col(s"__lut$s"), col(s"code_$s").cast("int")))
      .foldLeft(col("__coarse"))(_ + _)
    val wAdc = Window.partitionBy("query_id").orderBy(col("__adc").desc, col("neighbor_id"))
    val refined = q.join(codes, "cell")
      .withColumn("__adc", adc)
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= refine)

    val wExact = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    refined
      .withColumn("__cos",
        vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(wExact).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** Build and persist the COMPOSED production index (IVF-PQ) for an
    * immutable corpus snapshot — the full billion-scale serving layout
    * on disk:
    *
    *   - `<table>_centroids` — Lloyd-refined unit coarse centroids
    *     (tiny);
    *   - `<table>_codebooks` — the trained per-subspace residual
    *     codebooks, (s, cidx, entry) rows (m·codebookSize — tiny);
    *   - `<table>_pqcodes` — ONE ROW PER VECTOR holding only
    *     (neighbor_id, cell, code_0..m−1), PARTITIONED BY `cell`: m
    *     byte-ish codes instead of 4·dim floats is the 32× memory/scan
    *     cut, and the cell partitioning bounds a probe's file I/O to
    *     its probed cells exactly like the flat IVF index.
    *
    *   - `<table>_vectors` — the (id → raw vector, norm) SERVING
    *     projection, partitioned by [[vecBucket]] (an id-hash bucket)
    *     and id-sorted within each bucket. The scan path (ADC over
    *     codes) never touches it; ONLY the `refine` survivors' point
    *     fetches do, as a partition-pruned read of ≤ |survivors|
    *     bucket directories ([[ivfPqTopKIndexed]]) — without it the
    *     re-rank join would SCAN the whole corpus per probe batch
    *     (Spark has no point lookups; see [[vecBucket]]).
    *
    * Artifacts come from [[ivfPqArtifacts]] — the same centroids,
    * codebooks and min-L2 codes as the in-plan [[ivfPqTopK]], so the
    * persisted probe is spec-pinned row-identical to the in-plan tier.
    */
  def buildIvfPqIndex(
      emb: DataFrame,
      candPred: Column,
      dir: String,
      table: String,
      numCentroids: Int = 8,
      m: Int = 4,
      codebookSize: Int = 16,
      seed: Long = 42L,
      trainIters: Int = 2,
      refineIters: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val spark = emb.sparkSession
    val n = Caches.persisted(withNorm(emb, vecCol, idCol))
    val (centroids, cb, codes) = ivfPqArtifacts(emb, n, candPred,
      numCentroids, m, codebookSize, seed, trainIters, refineIters, vecCol, idCol)
    val centDf = spark.createDataFrame(
      centroids.toSeq.zipWithIndex.map { case (v, i) => (i + 1L, v.toSeq) })
      .toDF("cell", "centroid")
    graft.sources.Warehouse.overwrite(centDf, dir, s"${table}_centroids")
    val cbDf = spark.createDataFrame(
      for (s <- 0 until cb.length; cI <- cb(s).indices)
        yield (s, cI + 1L, cb(s)(cI).toSeq))
      .toDF("s", "cidx", "entry")
    graft.sources.Warehouse.overwrite(cbDf, dir, s"${table}_codebooks")
    graft.sources.Warehouse.overwriteLayout(
      codes.drop("c_vec", "c_norm").repartition(col("cell")),
      dir, s"${table}_pqcodes", "cell")
    // the id-pruned raw-vector projection the exact re-rank fetches
    // from — see [[vecBucket]] for why this table exists
    graft.sources.Warehouse.overwriteLayout(
      codes.select(col("neighbor_id"), col("c_vec"), col("c_norm"))
        .withColumn("idb", vecBucket(col("neighbor_id")))
        .repartition(col("idb")).sortWithinPartitions("neighbor_id"),
      dir, s"${table}_vectors", "idb")
  }

  /** The id-HASH-BUCKET partition key of the persisted raw-vector
    * projection (`<table>_vectors`): `"b"` + the first two hex chars
    * of `md5("vb:" + id)` — 256 buckets, string-valued with a letter
    * prefix so partition discovery NEVER type-infers (an all-numeric
    * bucket subset like `idb=12` would otherwise read back as INT),
    * and the DuckDB oracle replays the exact bucket from the same md5
    * formula.
    *
    * WHY this table exists: the IVF-PQ exact re-rank needs the
    * |Q|·refine survivors' RAW vectors, and Spark has no point lookups
    * — a plain `join(corpus)` plans as a broadcast semi-join that
    * SCANS the whole corpus per probe batch (round-11 verdict's last
    * scan-shaped ANN path). Persisting the (id → vector) projection
    * hash-bucketed by id turns the survivor fetch into a
    * partition-pruned read of ≤ |survivors| bucket directories — the
    * storage layer of a real vector store. Within each bucket rows are
    * id-sorted, so parquet row-group min/max stats prune further when
    * buckets span many files at 100 TB. Hash (not range) bucketing
    * keeps maintenance partition-local with NO locate scan: a delta or
    * RTBF victim's bucket is a pure function of its id.
    */
  private def vecBucket(id: Column): Column =
    concat(lit("b"), substring(md5(concat(lit("vb:"), id.cast("string"))), 1, 2))

  /** [[buildIvfPqIndex]]'s vector-projection schema — the recovery
    * schema for an all-purged table (the [[pqCodesSchema]] discipline).
    */
  private val vecSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("neighbor_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c_vec",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("c_norm",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("idb",
      org.apache.spark.sql.types.StringType)))

  /** ONLY the named id-buckets' partitions of the stored vector
    * projection — file-level pruned by construction, empty-directory
    * safe. */
  private def readVecPartitions(spark: SparkSession, dir: String, table: String,
      buckets: Seq[String]): DataFrame =
    graft.sources.Warehouse.readPartitions(spark, dir, s"${table}_vectors", "idb",
      buckets, emptySchema = Some(vecSchema))

  /** The persisted codes table's fixed schema — (neighbor_id,
    * code_0..m−1, cell), partition column last as discovery returns it.
    * The recovery schema for a codes table every row of which was
    * purged (an empty partitioned directory carries no schema of its
    * own — the [[cellSchema]] discipline); `m` derives from the stored
    * codebooks, which RTBF keeps (aggregate artifacts, not per-vector
    * data), so the schema is always recoverable.
    */
  private def pqCodesSchema(m: Int): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType) +:
        (0 until m).map(s => org.apache.spark.sql.types.StructField(s"code_$s",
          org.apache.spark.sql.types.LongType)) :+
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType))

  /** The full stored codes table — empty-directory safe (maintenance
    * paths only; probes go through [[readPqCodesPartitions]]). */
  private def readPqCodesTable(spark: SparkSession, dir: String, table: String,
      m: Int): DataFrame =
    if (graft.sources.Warehouse.listDataFiles(spark, dir, s"${table}_pqcodes").isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        pqCodesSchema(m))
    else graft.sources.Warehouse.read(spark, dir, s"${table}_pqcodes")
      .withColumn("cell", col("cell").cast("long"))

  /** ONLY the named cells' partitions of the stored codes table —
    * file-level pruned by construction, empty-directory safe. */
  private def readPqCodesPartitions(spark: SparkSession, dir: String, table: String,
      m: Int, cellIds: Seq[Long]): DataFrame =
    graft.sources.Warehouse.readPartitions(spark, dir, s"${table}_pqcodes", "cell",
      cellIds, emptySchema = Some(pqCodesSchema(m)))
      .withColumn("cell", col("cell").cast("long"))

  /** The stored per-subspace codebooks, collected to the driver
    * (m·codebookSize·subDim floats — tiny). */
  private def readCodebooks(spark: SparkSession, dir: String,
      table: String): Array[Array[Array[Float]]] = {
    val rows = graft.sources.Warehouse.read(spark, dir, s"${table}_codebooks")
      .orderBy("s", "cidx").collect()
    val m = rows.map(_.getInt(0)).max + 1
    (0 until m).toArray.map(s => rows.filter(_.getInt(0) == s)
      .sortBy(_.getLong(1)).map(_.getSeq[Float](2).toArray))
  }

  /** Per-cell OVERRIDE codebooks (`<table>_cellbooks`) — the artifact
    * of the codebook-drift repair ([[retrainPqCellBooks]]): (cell, s,
    * cidx, entry) rows; a cell ABSENT here encodes and decodes under
    * the global `_codebooks`. Collected to the driver (≤ overridden ×
    * m·codebookSize·subDim floats — tiny, like the global books).
    */
  private def readCellBooks(spark: SparkSession, dir: String,
      table: String): Map[Long, Array[Array[Array[Float]]]] =
    if (!graft.sources.Warehouse.exists(spark, dir, s"${table}_cellbooks")) Map.empty
    else {
      val rows = graft.sources.Warehouse.read(spark, dir, s"${table}_cellbooks")
        .orderBy("cell", "s", "cidx").collect()
      rows.groupBy(_.getLong(0)).map { case (c, rs) =>
        val m = rs.map(_.getInt(1)).max + 1
        c -> (0 until m).toArray.map(s => rs.filter(_.getInt(1) == s)
          .sortBy(_.getLong(2)).map(_.getSeq[Float](3).toArray))
      }
    }

  private def writeCellBooks(spark: SparkSession, dir: String, table: String,
      books: Map[Long, Array[Array[Array[Float]]]]): Unit = {
    val rows = for {
      (c, b) <- books.toSeq.sortBy(_._1); s <- b.indices; ci <- b(s).indices
    } yield (c, s, ci + 1L, b(s)(ci).toSeq)
    graft.sources.Warehouse.overwrite(
      spark.createDataFrame(rows).toDF("cell", "s", "cidx", "entry"),
      dir, s"${table}_cellbooks")
  }

  /** Min-L2 PQ code columns under a STACK of codebooks, windowed per
    * row: subspace `s`'s adjusted dots run against the concatenation
    * of every stacked book's K entries in ONE [[vec_mat_dots]], and
    * each row's argmax is taken over its own book's K-window
    * (`winIdx`, 0-based stack position) — per-cell books with no
    * per-cell plans and no joins. With a single stacked book and
    * winIdx 0 this is exactly [[pqCodesOf]]'s arithmetic (same
    * per-entry float steps), which is what keeps override-free probes
    * bit-identical to the pre-override path.
    */
  private def stackedCodeCols(stacks: Seq[Array[Array[Array[Float]]]],
      winIdx: Column, vec: Column, m: Int): Seq[Column] = {
    val K = stacks.head(0).length
    require(stacks.forall(b => b.length == m && b.forall(_.length == K)),
      "stacked codebooks must share (m, codebookSize)")
    (0 until m).map { s =>
      val mat = stacks.flatMap(b => b(s)).toArray
      val subDim = mat(0).length
      val adjAll = zip_with(
        vec_mat_dots(slice(vec, s * subDim + 1, subDim), mat, lit(1.0)),
        lit(mat.map(halfNormOf)),
        (d, h) => d - h)
      val win = slice(adjAll, winIdx * lit(K) + lit(1), lit(K))
      array_position(win, array_max(win)).as(s"__c$s")
    }
  }

  /** `iters` batched per-CELL Lloyd rounds over residual slices — ONE
    * job per iteration across every dirty cell (`cell` rides the
    * groupBy key), the cell-batched sibling of
    * [[trainSubspaceCodebooks]] with identical per-entry arithmetic
    * (stacked min-L2 assignment, exact ×2^24 fixed-point sums, the
    * qsum/cnt/Q double mean, float cast; entries that attract no rows
    * keep their previous value). `src` rows must all belong to cells
    * in `init` (the pruned dirty-partition read guarantees it).
    */
  private def trainSubspaceCodebooksByCell(
      src: DataFrame,
      vec: Column,
      m: Int,
      init: Seq[(Long, Array[Array[Array[Float]]])],
      iters: Int): Seq[(Long, Array[Array[Array[Float]]])] = {
    val cells = init.map(_._1)
    val subDim0 = init.head._2(0)(0).length
    val Q = (1L << 24).toDouble
    var books = init
    for (_ <- 0 until iters) {
      val winIdx = cells.zipWithIndex.foldLeft(lit(0): Column) {
        case (acc, (c, i)) => when(col("cell") === c, i).otherwise(acc)
      }
      val coded = src.select(col("cell") +: vec.as("__v") +:
        stackedCodeCols(books.map(_._2), winIdx, vec, m): _*)
      val sums = coded
        .select(col("cell"), explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), col(s"__c$s").as("code"),
            slice(col("__v"), s * subDim0 + 1, subDim0).as("slice"))): _*)).as("e"))
        .select(col("cell"), col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.slice")).as(Seq("d", "x")))
        .groupBy("cell", "s", "code", "d")
        .agg(sum(round(col("x").cast("double") * Q).cast("long")).as("qsum"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = books.map { case (c, b) => c -> b.map(_.map(_.clone())) }.toMap
      sums.foreach { r =>
        next(r.getLong(0))(r.getInt(1))(r.getLong(2).toInt - 1)(r.getInt(3)) =
          ((r.getLong(4).toDouble / r.getLong(5).toDouble) / Q).toFloat
      }
      books = cells.map(c => c -> next(c))
    }
    books
  }

  /** CODEBOOK drift repair for the persisted IVF-PQ index — the
    * codebook analog of [[recentroidCells]], replacing "retrain = full
    * rebuild": per-subspace Lloyd re-runs on the DRIFTED cells'
    * residuals only (seeded from each cell's current effective book),
    * the refreshed books land as per-cell OVERRIDES in
    * `<table>_cellbooks`, and ONLY the dirty cells' code partitions
    * are re-encoded — clean partitions stay byte-identical
    * (gate-checked like `ann_ivf_recentroid`). Centroids stay frozen
    * (centroid drift is [[recentroidCells]]' job); probes and appends
    * honor the overrides through the stacked-window decode
    * ([[stackedCodeCols]]).
    *
    * I/O: one pruned read of the dirty code partitions, one
    * bucket-pruned fetch of their members' raw vectors (degenerates to
    * the whole projection when members hash across all 256 buckets —
    * maintenance cadence, the RTBF-locate discipline), `trainIters`
    * batched training jobs, one partition-local rewrite. Crash window:
    * the code rewrite and the cellbooks refresh are two writes — a
    * crash between them leaves dirty cells encoded under books the
    * table doesn't carry yet (an ADC quality dip on those cells, never
    * a wrong id: the exact re-rank reads raw vectors); re-running the
    * repair converges it.
    */
  def retrainPqCellBooks(
      spark: SparkSession,
      dir: String,
      table: String,
      dirtyCells: Seq[Long],
      trainIters: Int = 2): Unit = {
    require(dirtyCells.nonEmpty, "retrainPqCellBooks: empty dirty cell set")
    val centroids = readCentroids(spark, dir, table)
    val globalCb = readCodebooks(spark, dir, table)
    val m = globalCb.length
    val dirty = dirtyCells.distinct.sorted
    require(dirty.forall(c => c >= 1 && c <= centroids.length),
      s"unknown cell ids in dirty set: ${dirty.filter(c => c < 1 || c > centroids.length).mkString(",")}")
    val existing = readCellBooks(spark, dir, table)
    val init = dirty.map(c => c -> existing.getOrElse(c, globalCb))
    val members = readPqCodesPartitions(spark, dir, table, m, dirty)
      .select("neighbor_id", "cell")
    val mb = members.select(vecBucket(col("neighbor_id")).as("idb")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded by 256
    require(mb.nonEmpty, "retrainPqCellBooks: dirty cells hold no members")
    val slice = members.join(
      readVecPartitions(spark, dir, table, mb).select("neighbor_id", "c_vec", "c_norm"),
      "neighbor_id")
    val withRes = Caches.persisted(residualsOf(slice, centroids))
    val books = trainSubspaceCodebooksByCell(withRes, col("__res"), m, init, trainIters)
    // re-encode ONLY the dirty partitions under the refreshed books
    val winIdx = dirty.zipWithIndex.foldLeft(lit(0): Column) {
      case (acc, (c, i)) => when(col("cell") === c, i).otherwise(acc)
    }
    val recoded = withRes.select(
      col("neighbor_id") +:
        stackedCodeCols(books.map(_._2), winIdx, col("__res"), m)
          .zipWithIndex.map { case (cc, s) => cc.as(s"code_$s") } :+
        col("cell"): _*)
    // materialize-before-replace: see appendToIvfIndex's note
    graft.sources.Warehouse.overwritePartitions(
      recoded.repartition(col("cell")).localCheckpoint(),
      dir, s"${table}_pqcodes", "cell")
    writeCellBooks(spark, dir, table, (existing -- dirty) ++ books.toMap)
  }

  /** Incremental maintenance for the persisted IVF-PQ index: encode a
    * DELTA of new vectors under the FROZEN artifacts (stored centroids
    * + stored codebooks — the same frozen-artifact lifecycle as
    * [[appendToIvfIndex]], extended to the codebooks) and append their
    * code rows to the touched cells' partitions only. Replay-safe: a
    * delta id already indexed no-ops (frozen centroids re-assign it to
    * the same cell, so the anti-join never needs the untouched
    * partitions). Ingest cost is O(delta·(numCentroids +
    * m·codebookSize)) encode work; the historical code table is never
    * rescanned. A cell with a [[retrainPqCellBooks]] override encodes
    * its delta under the OVERRIDE book (codes must decode against the
    * book their cell serves with). Codebook drift follows the
    * centroid-drift lifecycle: monitor recall vs the brute tier,
    * repair with [[retrainPqCellBooks]] when it degrades.
    */
  def appendToIvfPqIndex(
      delta: DataFrame,
      dir: String,
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val spark = delta.sparkSession
    val centroids = readCentroids(spark, dir, table)
    val cb = readCodebooks(spark, dir, table)
    val resT = Caches.persisted(
      residualsOf(assignCells(withNorm(delta, vecCol, idCol), centroids, vecCol, idCol),
        centroids))
    val over = readCellBooks(spark, dir, table)
    val coded =
      if (over.isEmpty) pqCodesOf(resT, cb)
      else {
        // overridden cells' deltas must encode under their OVERRIDE
        // book — the effective book per cell id, stacked, windowed by
        // the row's (0-based) cell
        val eff = (1 to centroids.length).map(c => over.getOrElse(c.toLong, cb))
        resT.select(col("neighbor_id") +: col("c_vec") +: col("c_norm") +: col("cell") +:
          stackedCodeCols(eff, (col("cell") - 1).cast("int"), col("__res"), cb.length)
            .zipWithIndex.map { case (cc, s) => cc.as(s"code_$s") }: _*)
      }
    val assigned = coded.drop("c_vec", "c_norm", "__res")
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq // bounded by numCentroids
    if (touched.nonEmpty) {
      val slice = readPqCodesPartitions(spark, dir, table, cb.length, touched)
      val fresh = assigned.join(slice.select("neighbor_id"), Seq("neighbor_id"), "left_anti")
      // materialize-before-replace: see appendToIvfIndex's note
      graft.sources.Warehouse.overwritePartitions(
        slice.unionByName(fresh).repartition(col("cell")).localCheckpoint(),
        dir, s"${table}_pqcodes", "cell")
    }
    // the vector projection ingests the same delta, bucket-locally:
    // a delta id's bucket is a pure function of the id ([[vecBucket]]),
    // so the touched partitions need no locate scan; replayed ids
    // anti-join away exactly like the code rows
    val deltaVec = resT.select(col("neighbor_id"), col("c_vec"), col("c_norm"))
      .withColumn("idb", vecBucket(col("neighbor_id")))
    val touchedB = deltaVec.select("idb").distinct()
      .collect().map(_.getString(0)).toSeq // bounded by 256
    if (touchedB.nonEmpty) {
      val vslice = readVecPartitions(spark, dir, table, touchedB)
      val vfresh = deltaVec.join(vslice.select("neighbor_id"), Seq("neighbor_id"), "left_anti")
      graft.sources.Warehouse.overwritePartitions(
        vslice.unionByName(vfresh).repartition(col("idb"))
          .sortWithinPartitions("neighbor_id").localCheckpoint(),
        dir, s"${table}_vectors", "idb")
    }
  }

  /** RIGHT-TO-BE-FORGOTTEN for the persisted IVF-PQ index: remove the
    * deleted vectors' code rows so no probe can ever return a deleted
    * id. Centroids and codebooks stay frozen — aggregate statistics of
    * the corpus distribution, not retrievable per-vector data — so the
    * purged index equals the index that never ingested the victims
    * under the same artifacts (spec-pinned: no deleted id surfaces even
    * at full probe, surviving rows byte-unchanged). I/O mirrors
    * [[deleteFromIvfIndex]]: one column-pruned locate scan, rewrite of
    * only the touched partitions, emptied ones dropped.
    */
  def deleteFromIvfPqIndex(
      spark: SparkSession,
      dir: String,
      table: String,
      deletedIds: DataFrame,
      idCol: String = "vec_id"): Unit = {
    val del = deletedIds.select(col(idCol).as("neighbor_id")).distinct()
    // m from the stored codebooks (kept through RTBF): the codes table
    // itself may be an empty directory after a purge-everything delete
    val m = readCodebooks(spark, dir, table).length
    val all = readPqCodesTable(spark, dir, table, m)
    val touched = all.join(del, Seq("neighbor_id"), "left_semi")
      .select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    if (touched.nonEmpty) {
      val survivors = readPqCodesPartitions(spark, dir, table, m, touched)
        .join(del, Seq("neighbor_id"), "left_anti")
      val surviving = survivors.select("cell").distinct()
        .collect().map(_.getLong(0)).toSet
      if (surviving.nonEmpty)
        // materialize-before-replace: see appendToIvfIndex's note
        graft.sources.Warehouse.overwritePartitions(
          survivors.repartition(col("cell")).localCheckpoint(),
          dir, s"${table}_pqcodes", "cell")
      graft.sources.Warehouse.dropPartitions(spark, dir, s"${table}_pqcodes", "cell",
        touched.filterNot(surviving))
    }
    // the vector projection holds the victims' RAW vectors — the most
    // sensitive per-vector data RTBF exists for. The victims' CANDIDATE
    // buckets are a pure function of the ids (no locate scan); the
    // locate pass reads only those buckets, and only buckets that
    // actually hold a victim are rewritten (an absent-id delete leaves
    // every file untouched — the replay no-op contract). Emptied
    // buckets drop explicitly.
    val candB = del.select(vecBucket(col("neighbor_id")).as("idb")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded by 256
    if (candB.nonEmpty) {
      val inCand = readVecPartitions(spark, dir, table, candB)
      val hitB = inCand.join(del, Seq("neighbor_id"), "left_semi")
        .select("idb").distinct().collect().map(_.getString(0)).toSeq
      if (hitB.nonEmpty) {
        val vsurv = readVecPartitions(spark, dir, table, hitB)
          .join(del, Seq("neighbor_id"), "left_anti")
        val vkeep = vsurv.select("idb").distinct()
          .collect().map(_.getString(0)).toSet
        if (vkeep.nonEmpty)
          graft.sources.Warehouse.overwritePartitions(
            vsurv.repartition(col("idb")).sortWithinPartitions("neighbor_id")
              .localCheckpoint(),
            dir, s"${table}_vectors", "idb")
        graft.sources.Warehouse.dropPartitions(spark, dir, s"${table}_vectors", "idb",
          hitB.filterNot(vkeep))
      }
    }
  }

  /** The ADC-ranked `refine` SURVIVORS of a persisted-index probe —
    * (query_id, q_vec, q_norm, neighbor_id), shared by the serving
    * probe ([[ivfPqTopKIndexed]]) and the I/O-footprint report
    * ([[ivfPqRerankIoReport]]) so the audited path IS the served path.
    * Centroids and codebooks load onto the driver (tiny), the probed
    * cell set prunes the code table to its probed partitions
    * (file-level, the [[ivfTopKIndexed]] discipline), and the ADC
    * ranks codes without touching any raw vector.
    */
  private def ivfPqIndexSurvivors(
      queries: DataFrame,
      dir: String,
      table: String,
      nProbe: Int,
      refine: Int,
      vecCol: String,
      idCol: String): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readCentroids(spark, dir, table)
    val cb = readCodebooks(spark, dir, table)
    val m = cb.length
    val subDim = cb(0)(0).length
    val K = cb(0).length
    // per-cell override books ([[retrainPqCellBooks]]): the query LUT
    // stacks [global, override₁, override₂, …] per subspace, and each
    // probed cell decodes through its own book's K-window (stack
    // position 0 = global). With no overrides the stack IS the global
    // book and the window offset constant-folds to 0 — the exact
    // pre-override arithmetic.
    val over = readCellBooks(spark, dir, table).toSeq.sortBy(_._1)
    val stacks = cb +: over.map(_._2)
    def sl(c: Column, s: Int): Column = slice(c, s * subDim + 1, subDim)
    def subDots(v: Column, s: Int): Column =
      vec_mat_dots(sl(v, s), stacks.flatMap(_(s)).toArray, lit(1.0))
    val winIdx = over.zipWithIndex.foldLeft(lit(0): Column) {
      case (acc, ((c, _), i)) => when(col("cell") === c, i + 1).otherwise(acc)
    }
    val centLit = typedLit(centroids.map(_.toSeq).toSeq)
    val q0 = withNorm(queries, vecCol, idCol)
    val probed = probedCellSet(q0, centroids, nProbe, vecCol)
    val codes = readPqCodesPartitions(spark, dir, table, m, probed)
    val q = q0.select(
      col(idCol).as("query_id") +: col(vecCol).as("q_vec") +: col("norm").as("q_norm") +:
        explode(probeCellsExpr(centroids, nProbe, vecCol)).as("probe") +:
        (0 until m).map(s => subDots(col(vecCol), s).as(s"__lut$s")): _*)
      .withColumn("cell", col("probe.cell")).drop("probe")
      .withColumn("__coarse",
        vec_dot(col("q_vec"), element_at(centLit, col("cell").cast("int"))))
    val adc = (0 until m)
      .map(s => element_at(col(s"__lut$s"),
        (winIdx * lit(K) + col(s"code_$s")).cast("int")))
      .foldLeft(col("__coarse"))(_ + _)
    val wAdc = Window.partitionBy("query_id").orderBy(col("__adc").desc, col("neighbor_id"))
    q.join(codes, "cell")
      .withColumn("__adc", adc)
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= refine)
      .select("query_id", "q_vec", "q_norm", "neighbor_id")
  }

  /** The distinct [[vecBucket]] set of a survivor frame, collected to
    * the driver — bounded by min(|Q|·refine, 256): the partition-
    * pruning key set for the re-rank's point fetches. */
  private def survivorBuckets(surv: DataFrame): Seq[String] =
    surv.select(vecBucket(col("neighbor_id")).as("idb")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Probe a persisted IVF-PQ index ([[buildIvfPqIndex]]): the ADC
    * ranks code rows from the probed cells' partitions only
    * ([[ivfPqIndexSurvivors]]), then ONLY the `refine` survivors fetch
    * raw vectors for the exact cosine re-rank — and that fetch is a
    * PARTITION-PRUNED read of the survivors' id-buckets from the
    * index's own `<table>_vectors` projection, never a corpus scan
    * (see [[vecBucket]]; [[ivfPqRerankIoReport]] machine-checks the
    * file footprint). Two bounded jobs per probe batch: one to rank
    * and collect the survivor bucket set (≤ 256 strings), one pruned
    * fetch + re-rank. Row-identical to the in-plan [[ivfPqTopK]] at
    * equal parameters (spec-pinned; the gate's oracle replays the
    * whole pipeline).
    */
  def ivfPqTopKIndexed(
      queries: DataFrame,
      dir: String,
      table: String,
      k: Int,
      nProbe: Int,
      refine: Int = 50,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val surv = Caches.persisted(
      ivfPqIndexSurvivors(queries, dir, table, nProbe, refine, vecCol, idCol))
    val cand = readVecPartitions(spark, dir, table, survivorBuckets(surv))
    val wExact = Window.partitionBy("query_id").orderBy(col("__cos").desc, col("neighbor_id"))
    surv
      .join(cand.select("neighbor_id", "c_vec", "c_norm"), "neighbor_id")
      .withColumn("__cos",
        vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(wExact).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "rnk")
  }

  /** I/O-footprint report for the persisted IVF-PQ probe's RE-RANK
    * fetch — the survivor-side twin of [[ivfProbeIoReport]] (which
    * audits the index side): recomputes the probe's survivor set,
    * opens the pruned vector read, and checks against the live
    * `<table>_vectors` file listing that (a) every file the fetch
    * reads lies under a survivor `idb=` bucket and (b) strictly fewer
    * files than the projection holds whenever fewer buckets than exist
    * are fetched. Violations throw (loud). One row:
    * `(n_buckets_total, n_buckets_probed, io_pruned)` — the bucket KEY
    * SET is what the DuckDB oracle replays
    * ([[graft.OracleSql.annIvfPqRerankBuckets]]); the file footprint
    * is physical evidence only the engine can observe.
    */
  def ivfPqRerankIoReport(
      queries: DataFrame,
      dir: String,
      table: String,
      nProbe: Int,
      refine: Int = 50,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val surv = Caches.persisted(
      ivfPqIndexSurvivors(queries, dir, table, nProbe, refine, vecCol, idCol))
    val buckets = survivorBuckets(surv)
    val readFiles = readVecPartitions(spark, dir, table, buckets).inputFiles
    val allFiles = graft.sources.Warehouse.listDataFiles(spark, dir, s"${table}_vectors")
    val allBuckets = allFiles.flatMap(f =>
      "/idb=(b[0-9a-f]{2})/".r.findFirstMatchIn(f).map(_.group(1))).toSet
    val subsetOk = readFiles.nonEmpty &&
      readFiles.forall(f => buckets.exists(b => f.contains(s"/idb=$b/")))
    val strictlyPruned =
      buckets.toSet.intersect(allBuckets).size >= allBuckets.size ||
        readFiles.length < allFiles.size
    require(subsetOk && strictlyPruned,
      s"IVF-PQ re-rank I/O not pruned: read ${readFiles.length} of ${allFiles.size} " +
        s"files for ${buckets.size} survivor buckets of ${allBuckets.size} on disk")
    spark.range(1).select(
      lit(allBuckets.size.toLong).as("n_buckets_total"),
      lit(buckets.size.toLong).as("n_buckets_probed"),
      lit(true).as("io_pruned"))
  }

  /** Nearest-class-centroid classification — the standard cheap
    * auto-labeling / taxonomy-routing move: average the embeddings of a
    * labeled seed slice into one prototype per class, then assign every
    * unlabeled vector to the class whose prototype it is most
    * cosine-similar to.
    *
    * Deterministic end-to-end: prototypes are [[groupedVectorSums]]'
    * exact-integer component sums (quantized to `2^scaleBits`), the
    * class score is `dot(q(v), S_label) / ‖S_label‖` — an exact-integer
    * dot and an exact-integer squared norm, each converted to double
    * once at the end — and the argmax breaks ties on the smaller label.
    * The candidate's own norm is constant across classes, so it cannot
    * change the argmax and is omitted. Both integer reductions are
    * order-independent, so the result is partition-count-invariant and
    * replays bit-for-bit in the DuckDB oracle
    * ([[graft.OracleSql.classifyByCentroid]]).
    *
    * Overflow headroom at scaleBits=20, unit-scale components: a class
    * needs ≳ 10⁴ seed vectors per dimension before the squared-norm sum
    * approaches Long range; above that, lift `__n2`/`__d` to
    * decimal(38,0) (the [[vectorSecondMoments]] pattern).
    *
    * Shape at 100 TB: prototypes are `labels × dim` rows — a broadcast
    * — so classification is a map-side explode + broadcast join + ONE
    * combinable per-(vector, class) sum; the only shuffle is keyed by
    * (id, class), and the final argmax is a `labels`-row window per
    * vector. No collect anywhere; the seed aggregation itself is one
    * map-side-combined groupBy.
    *
    * @param seedPred rows satisfying this are the labeled seed set;
    *                 all other rows are classified.
    * @return (idCol, labelCol, pred_label) for every non-seed row —
    *         the true label rides along for accuracy reporting.
    */
  def classifyByCentroid(
      emb: DataFrame,
      seedPred: Column,
      scaleBits: Int = 20,
      labelCol: String = "label",
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val q = math.pow(2, scaleBits)
    val cent = groupedVectorSums(emb.where(seedPred), labelCol, vecCol, scaleBits)
      .select(col(labelCol).as("__cl"), col("dim"), col("sum_fp"))
    val norms = cent.groupBy("__cl")
      .agg(sum(col("sum_fp") * col("sum_fp")).as("__n2"))
    val comps = emb.where(!seedPred)
      .select(col(idCol), col(labelCol),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col(idCol), col(labelCol), col("dim"),
        round(col("__x").cast("double") * q).cast("long").as("__q"))
    val dots = comps
      .join(broadcast(cent), Seq("dim"))
      .groupBy(col(idCol), col(labelCol), col("__cl"))
      .agg(sum(col("__q") * col("sum_fp")).as("__d"))
    val w = Window.partitionBy(idCol).orderBy(col("__score").desc, col("__cl"))
    dots
      .join(broadcast(norms), "__cl")
      .withColumn("__score", col("__d").cast("double") / sqrt(col("__n2").cast("double")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col(labelCol), col("__cl").cast("int").as("pred_label"))
  }

  /** Maximal-marginal-relevance re-ranking — the diversity pass a
    * retrieval/RAG pipeline runs after ANN: from each query's `poolK`
    * most-cosine-similar candidates, greedily select `k` picks where
    * each pick maximizes `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`
    * — relevance traded against redundancy with what is already
    * selected. The first pick reduces to `λ·rel` (max over the empty
    * selection is 0), so one formula covers every round.
    *
    * Deterministic: rel/sim are the codegen'd FloatVecDot double
    * cosines (fixed accumulation order), λ and 1−λ are embedded as the
    * exact same doubles on both engines, `max` over the selected set is
    * order-independent, and every argmax breaks ties on the smaller
    * candidate id — the DuckDB oracle ([[graft.OracleSql.mmrRerank]])
    * replays all `k` rounds bit-for-bit.
    *
    * This overload generates its pool by EXACT cosine over a
    * |Q|×|C| cross join — the labeled oracle tier, gated at sample
    * scale. The production path is [[mmrRerankFromPool]] composed over
    * an ANN tier's candidates: same greedy stage, cartesian-free end
    * to end.
    *
    * Shape of the greedy stage at 100 TB: the pool is `poolK` rows per
    * query, so the pairwise-sim table is `|Q|·poolK²` rows keyed by
    * query — a keyed self-join, never a corpus cross join — and the
    * rounds run in one per-query cogroup. Driver holds no state.
    *
    * @return (query_id, pick, sel_id, mmr): pick = 1..k in selection
    *         order with the winning MMR score.
    */
  def mmrRerank(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      poolK: Int = 12,
      lambda: Double = 0.7,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && poolK >= k, s"need 1 <= k <= poolK, got k=$k poolK=$poolK")
    val n = withNorm(emb, vecCol, idCol)
    val q = n.where(queryPred).toDF("query_id", "q_vec", "q_norm")
    val c = n.where(candPred).toDF("cand_id", "c_vec", "c_norm")
    val relCol = vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val wRel = Window.partitionBy("query_id").orderBy(col("rel").desc, col("cand_id"))
    val pool = q.crossJoin(c)
      .withColumn("rel", relCol)
      .withColumn("__rnk", row_number().over(wRel))
      .where(col("__rnk") <= poolK)
      .select("query_id", "cand_id", "rel", "c_vec", "c_norm")
    mmrGreedy(pool, k, lambda)
  }

  /** Production MMR: the same greedy diversity selection, but over a
    * PRE-COMPUTED candidate pool — the output of whatever ANN tier the
    * deployment runs ([[ivfTopK]], [[lshTopK]], a served
    * [[ivfTopKIndexed]]). [[mmrRerank]]'s pool generation is a
    * |Q|×|C| cross join (exact, the labeled oracle tier); composing
    * over the ANN tier makes the end-to-end rerank cartesian-free:
    * pool generation is the tier's bucketed shape, relevance is
    * recomputed on exactly |Q|·poolK pairs via two keyed joins, and
    * the greedy rounds are the same per-query poolK² cogroup.
    *
    * Determinism: `rel` is the identical codegen'd cosine the tiers
    * rank by, recomputed from the id pairs — so the result depends
    * only on the pool's (query_id, cand_id) SET, not on float values
    * that rode along; any tier whose ids the oracle can replay (IVF's
    * seeded centroids, LSH's seeded planes) yields a bit-replayable
    * rerank ([[graft.OracleSql.mmrRerankIvf]]).
    *
    * @param pool (query_id, cand_id) pairs; extra columns are ignored.
    *             Ids resolve against `emb`'s `idCol`.
    */
  def mmrRerankFromPool(
      emb: DataFrame,
      pool: DataFrame,
      k: Int,
      lambda: Double = 0.7,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    val n = withNorm(emb, vecCol, idCol)
    val q = n.toDF("query_id", "q_vec", "q_norm")
    val c = n.toDF("cand_id", "c_vec", "c_norm")
    val relCol = vec_dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))
    val scored = pool.select("query_id", "cand_id")
      .join(q, "query_id")
      .join(c, "cand_id")
      .withColumn("rel", relCol)
      .select("query_id", "cand_id", "rel", "c_vec", "c_norm")
    mmrGreedy(scored, k, lambda)
  }

  /** The shared greedy-selection stage: per query, `k` MMR rounds over
    * its pool of `(cand_id, rel, vector)` rows — one keyed self-join
    * for the ≤ poolK² pairwise sims, one cogroup for the rounds.
    * `pool` columns: query_id, cand_id, rel, c_vec, c_norm.
    */
  private def mmrGreedy(pool0: DataFrame, k: Int, lambda: Double): DataFrame = {
    val pool = Caches.persisted(pool0)
    val a = pool.select(col("query_id"), col("cand_id").as("id_a"),
      col("c_vec").as("__va"), col("c_norm").as("__na"))
    val b = pool.select(col("query_id"), col("cand_id").as("id_b"),
      col("c_vec").as("__vb"), col("c_norm").as("__nb"))
    val sims = a.join(b, Seq("query_id"))
      .where(col("id_a") =!= col("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        (vec_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
    // the greedy selection runs per query over its <= poolK^2 scored
    // pairs — ONE cogroup stage instead of k global join/window stages
    // (k DataFrame rounds were measured 10x slower from per-stage
    // overhead alone, and at scale a per-query loop is the right
    // parallelism anyway). The in-memory arithmetic is the identical
    // IEEE expression the oracle unrolls: lam*rel for the first pick,
    // lam*rel - (1-lam)*maxsim after, argmax tie-breaking on the
    // smaller candidate id; maxsim is an order-independent double max.
    val spark = pool.sparkSession
    import spark.implicits._
    val poolDs = pool.select(col("query_id"), col("cand_id"), col("rel"))
      .as[(Long, Long, Double)]
    val simsDs = sims.as[(Long, Long, Long, Double)]
    val oneMinus = 1 - lambda
    poolDs.groupByKey(_._1).cogroup(simsDs.groupByKey(_._1)) {
      (qid, ps, ss) =>
        val rels = ps.map(p => (p._2, p._3)).toArray
        val sim = ss.map(s => ((s._2, s._3), s._4)).toMap
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        var r = 1
        while (r <= k && selected.size < rels.length) {
          var bestId = -1L
          var bestMmr = 0.0
          for ((cid, rel) <- rels if !selected.contains(cid)) {
            val mmr =
              if (selected.isEmpty) lambda * rel
              else {
                var ms = Double.NegativeInfinity
                for (s <- selected) { val v = sim((cid, s)); if (v > ms) ms = v }
                lambda * rel - oneMinus * ms
              }
            if (bestId < 0 || mmr > bestMmr || (mmr == bestMmr && cid < bestId)) {
              bestId = cid; bestMmr = mmr
            }
          }
          picks += ((qid, r, bestId, bestMmr))
          selected += bestId
          r += 1
        }
        picks.iterator
    }.toDF("query_id", "pick", "sel_id", "mmr")
  }

  /** Retrieval-eval harness: per-query recall@k and reciprocal rank of
    * the approximate ANN tiers (LSH, IVF) against the exact brute-force
    * top-k — the continuous-evaluation query an ANN deployment watches
    * to catch recall drift (the per-tier macro numbers are one
    * aggregation away; per-query rows localize WHICH queries degrade).
    *
    * Integer-exact metrics: `n_hits = |tier ∩ brute|`, `recall_ppm =
    * n_hits·10⁶ div k`, `rr_ppm = 10⁶ div rank_of_brute's-#1_in_tier`
    * (0 when the true nearest neighbor is missed entirely) — no float
    * averaging, so the gate hashes exactly.
    *
    * Shape at 100 TB: three gated-green tiers composed in-plan; the
    * metric joins are keyed on (query_id, neighbor_id) over k-row-per-
    * query tables — negligible next to the tiers themselves.
    */
  def annEvalMetrics(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      k: Int,
      numPlanes: Int = 8,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val brute = Caches.persisted(
      bruteForceTopK(emb, queryPred, candPred, k, vecCol, idCol))
    val tiers = Seq(
      "lsh" -> lshTopK(emb, queryPred, candPred, k, numPlanes, dim, seed, vecCol, idCol),
      "ivf" -> ivfTopK(emb, queryPred, candPred, k, numCentroids, nProbe, seed, vecCol, idCol))
    val queries = brute.select("query_id").distinct()
    tiers.map { case (tag, res) =>
      val hits = res.join(brute.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      val top1InTier = brute.where(col("rnk") === 1)
        .select(col("query_id"), col("neighbor_id"))
        .join(res.withColumnRenamed("rnk", "__trnk"), Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"),
          coalesce(expr("1000000 div __trnk"), lit(0L)).as("rr_ppm"))
      queries
        .join(hits, Seq("query_id"), "left")
        .join(top1InTier, Seq("query_id"), "left")
        .select(lit(tag).as("tier"), col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr(s"coalesce(n_hits, 0) * 1000000 div $k").as("recall_ppm"),
          coalesce(col("rr_ppm"), lit(0L)).as("rr_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Matryoshka-style truncation eval: over ONE shared IVF candidate
    * pool, rank by full-dimension cosine and by the FIRST-`prefixDim`
    * -dimension cosine, and report per-query overlap@k — "how much
    * ranking quality do we keep if we store only the first p dims",
    * the question behind embedding truncation at serving time (¼ of
    * the bytes ⇒ ¼ of the index, if recall holds).
    *
    * Cartesian-free: the pool is the IVF equi-join, scoring is two
    * keyed joins over |Q|·poolK pairs, both rankings ride the same
    * per-query window pass (two rank columns on one row — no
    * self-join). Zero norms score the -2 sentinel (below any cosine)
    * rather than dividing by zero, pinned identically in the oracle.
    */
  def prefixDimRecall(
      emb: DataFrame,
      queryPred: Column,
      candPred: Column,
      poolK: Int,
      k: Int,
      prefixDim: Int,
      dim: Int = 64,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    // prefixDim <= dim is the bound that matters: past it Spark's
    // slice() silently clamps (prefix == full, a vacuous perfect
    // recall) while the oracle's unrolled dot indexes past the list
    // end into NULLs — the one configuration the two engines disagree on
    require(k >= 1 && k <= poolK && prefixDim >= 1 && prefixDim <= dim)
    val pool = ivfTopK(emb, queryPred, candPred, poolK, numCentroids,
      nProbe, seed, vecCol, idCol).select("query_id", "neighbor_id")
    val nb = Caches.persisted(emb
      .select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(graft.functions.vec_dot(col("v"), col("v"))))
      .withColumn("pv", slice(col("v"), 1, prefixDim))
      .withColumn("pnrm", sqrt(graft.functions.vec_dot(col("pv"), col("pv")))))
    def side(prefix: String, keyed: String) = nb.select(
      col("vid").as(keyed), col("v").as(s"${prefix}v"), col("nrm").as(s"${prefix}n"),
      col("pv").as(s"${prefix}pv"), col("pnrm").as(s"${prefix}pn"))
    val sc = pool
      .join(side("q", "query_id"), "query_id")
      .join(side("c", "neighbor_id"), "neighbor_id")
      .withColumn("cos_full",
        when(col("qn") === 0.0 || col("cn") === 0.0, lit(-2.0))
          .otherwise(graft.functions.vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
      .withColumn("cos_pref",
        when(col("qpn") === 0.0 || col("cpn") === 0.0, lit(-2.0))
          .otherwise(graft.functions.vec_dot(col("qpv"), col("cpv")) / (col("qpn") * col("cpn"))))
    val wf = Window.partitionBy("query_id").orderBy(col("cos_full").desc, col("neighbor_id"))
    val wp = Window.partitionBy("query_id").orderBy(col("cos_pref").desc, col("neighbor_id"))
    val hits = sc
      .withColumn("rf", row_number().over(wf))
      .withColumn("rp", row_number().over(wp))
      .filter(col("rf") <= k && col("rp") <= k)
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    pool.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0) * 1000000 div $k").as("recall_ppm"))
  }

  /** Confusion matrix of [[classifyByCentroid]] on the held-out rows:
    * (label, pred_label, n) — the accuracy/aliasing report a labeling
    * pipeline gates promotion on. Same scale shape as the classifier
    * plus one `labels²`-group aggregation.
    */
  def centroidConfusion(
      emb: DataFrame,
      seedPred: Column,
      scaleBits: Int = 20,
      labelCol: String = "label",
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    classifyByCentroid(emb, seedPred, scaleBits, labelCol, vecCol, idCol)
      .groupBy(col(labelCol), col("pred_label"))
      .agg(count(lit(1)).as("n"))
}
