package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{aqiCategory, mixed_hash32, HeavyHittersAgg, KmvAgg}
import graft.operators.{AsOf, Dedup, Events, Incremental, Merge, MergeSpec, Multimodal, RangeJoin, Sampling, Search, Similarity, Sketches, Stats, TextAnalysis}

/** Driver contract: one gate per implemented operator from SURVEY.md
  * §2 (IDs in the names) plus the training-data-pipeline extensions,
  * each a Spark query written next to its DuckDB-equivalent SQL;
  * `queries` and `oracleSql` are maps derived from that one list.
  * Column names/types are aligned pairwise — the driver sorts columns
  * by name and hash-compares values.
  *
  * Float discipline: outputs are either raw pass-through doubles
  * (bit-identical in both engines), integer-exact counts, or sums
  * rounded at the grid where the true value is an exact multiple
  * (prices: 2dp, price×discount: 4dp) so rounding can never straddle a
  * representable boundary.
  */
object SparkEntry {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    graft.sources.Tables.table(s, dir, t)

  /** Cheap content address of a source table for staleness keys:
    * `count_xorOfXxhash64(key)`. One aggregate scan over the key
    * column only (`*` hashes whole rows); bit_xor is commutative and
    * overflow-free, so the fingerprint is deterministic under any
    * partitioning and safe under ANSI. Count alone is NOT a content address — regenerated
    * test data with identical cardinality would serve a stale stage.
    */
  private def contentEpoch(df: DataFrame, keyCol: String): String = {
    val r = df.agg(
      count(lit(1)).as("n"),
      bit_xor(xxhash64(col(keyCol))).as("fp")).head()
    val fp = if (r.isNullAt(1)) 0L else r.getLong(1)
    s"${r.getLong(0)}_${java.lang.Long.toHexString(fp)}"
  }

  /** Derived artifacts: the content-addressed on-disk state gates build
    * once and read many times — the [[graft.operators.Curation]]
    * materialization discipline applied at the suite level. Shared
    * stages (near-dup pairs, keep-list, co-purchase edges) let DERIVED
    * consumers (rate report, data card, curation flagships, leakage
    * audit) read the materialized stage, exactly as a production
    * pipeline reads its upstream stage's table instead of re-running
    * dedup per report; MoR chains, IVF indexes, closures, stream folds
    * and format round trips keep the fixture state their gates operate
    * ON. One rule for all of them:
    *   - location: `root/<source dir, sanitized>/<name>`;
    *   - name: `<prefix>_<contentEpoch(src, key)>` — regenerated
    *     testdata with the same cardinality but different content gets
    *     a fresh artifact, which a row count alone would miss;
    *   - build: once per (session, location), JVM-serialized via the
    *     memo (keyed on the location); a later session finds the
    *     artifact on disk and skips the work its exists guard covers.
    *     Table and path writes publish through an atomic rename.
    */
  private[graft] object Artifacts {
    import graft.sources.Warehouse

    /** Root of every derived artifact (Bench's startup wipe and the
      * merge5m scenario live under it too).
      */
    val root: String = "target/graft_wh"

    /** The artifact directory for source dir `d`, created if absent. */
    def dir(d: String): String = {
      val p = new java.io.File(root + "/" + d.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      p
    }

    /** Fold form: `build(dir, name)` runs once per session and the
      * artifact's (dir, name) comes back. The body owns its exists
      * checks and batch-id stamps (MoR, index, pointer, Txn and
      * stream-replay chains).
      */
    def fold(s: SparkSession, d: String, name: String)(
        build: (String, String) => Unit): (String, String) = {
      val dir = this.dir(d)
      graft.operators.Memo.cached(s, s"$dir/$name") {
        build(dir, name)
        java.lang.Boolean.TRUE
      }
      (dir, name)
    }

    /** Table form: `write`s `derive(src)` as `<prefix>_<contentEpoch>`
      * when the table is absent (cache registrations made while
      * deriving are released once it is written) and returns its
      * (dir, name) — read it back with the reader matching `write`.
      */
    def table(s: SparkSession, d: String, prefix: String, src: DataFrame, keyCol: String,
        write: (DataFrame, String, String) => Unit = Warehouse.overwrite)(
        derive: DataFrame => DataFrame): (String, String) =
      fold(s, d, s"${prefix}_${contentEpoch(src, keyCol)}") { (dir, tbl) =>
        if (!Warehouse.exists(s, dir, tbl)) {
          val (_, scope) = graft.operators.Caches.scoped(write(derive(src), dir, tbl))
          scope.release()
        }
      }

    /** Path form: a free-form directory `write` fills at a tmp path that
      * an atomic rename publishes — a JVM dying mid-write leaves only
      * the tmp dir (cleared on the next attempt), never a half-written
      * artifact a bare exists() guard would treat as done forever.
      */
    def path(s: SparkSession, d: String, name: String)(write: String => Unit): String = {
      val (dir, _) = fold(s, d, name) { (dir, name) =>
        val target = java.nio.file.Paths.get(dir, name)
        if (!java.nio.file.Files.exists(target)) {
          val tmp = s"$dir/$name.tmp"
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
          write(tmp)
          java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
      s"$dir/$name"
    }
  }

  /** Deterministic partsupp stand-in derived from lineitem — the
    * testdata ships no partsupp table, so the TPC-H Q2/Q11/Q20 shapes
    * derive one: supply cost = cheapest observed line price (exact
    * cents), availqty = total shipped quantity. One groupBy on the
    * composite key; both engines replay it identically
    * ([[OracleSql]]'s `psCte` is the same text). */
  private def derivedPartSupp(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(
        col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("ps_supplycost_c"),
        sum(col("l_quantity").cast("long")).as("ps_availqty"))

  /** DuckDB replay of [[derivedPartSupp]], as a WITH-clause body. */
  private val psCte =
    "ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
      "CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ps_supplycost_c, " +
      "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty " +
      "FROM lineitem GROUP BY 1, 2)"

  /** Deterministic integer plane: (id, x, y) with x/y from modular
    * multiplicative hashing of the key — pure BIGINT arithmetic both
    * engines replay identically ([[geoPtsCte]] is the same text).
    * Coordinates land in [0, 100003) at every SF (the [[graft.operators.Geo]]
    * operators themselves accept either sign — floorDiv cells).
    */
  private def geoPoints(df: DataFrame, keyCol: String, mx: Long, my: Long): DataFrame =
    df.select(col(keyCol).cast("long").as("id"),
      (col(keyCol) * mx % 100003L).as("x"),
      (col(keyCol) * my % 100003L).as("y"))

  /** Pinned grid for the quantile-sketch gates: event-value cents in
    * $10 cells, 64 cells covering [0, $640) — headroom over the
    * domain's observed ceiling, per the GridQuantileAgg contract
    * (clamped edge cells have unbounded value error). ONE constant
    * feeding the Spark sketch and the oracle's bucket expression.
    */
  private[graft] val gridLo = 0L
  private[graft] val gridWidth = 1000L
  private[graft] val gridBins = 64

  /** The merge-on-read gate chain ([[graft.sources.MergeOnRead]]) over
    * a deterministic orders projection: base = keys with k%1000 != 7;
    * batch 1 updates k%100 == 3, batch 2 inserts the held-out
    * k%1000 == 7 keys AND updates k%200 == 3 (disjoint within the
    * batch: 1000m+7 is never 3 mod 200), batch 2 replays (skipped),
    * batch 3 updates k%400 == 3. All data columns sit in updateCols,
    * so the eager chain is exactly last-writer-wins per key — the
    * shape [[OracleSql]] replays as a static stacked-UNION window.
    * Batch payloads derive from the SOURCE table (cents0 + fixed
    * offsets), never from current state, so re-running the fold is
    * bit-stable and the batch-id stamps make it idempotent.
    */
  private def morFold(s: SparkSession, d: String,
      compactAfterBatch2: Boolean, minor: Boolean = false): DataFrame = {
    val (dir, tbl) = morTable(s, d, compactAfterBatch2, minor)
    graft.sources.MergeOnRead.readView(s, dir, tbl)
  }

  /** Builds (once, content-addressed) the flat chain and returns its
    * (warehouseDir, table) — the view and as-of gates read it.
    */
  private def morTable(s: SparkSession, d: String,
      compactAfterBatch2: Boolean, minor: Boolean = false): (String, String) = {
    import graft.sources.MergeOnRead
    val ord = rd(s, d, "orders")
    val src = ord.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status0"),
      round(col("o_totalprice") * 100).cast("long").as("cents0"))
    val suffix = if (minor) "mc" else if (compactAfterBatch2) "c" else "p"
    val spec = MergeSpec(Seq("k"), Seq("status", "cents"))
    def b(pred: Column, status: Column, cents: Column): DataFrame =
      src.where(pred).select(col("k"), status.as("status"), cents.as("cents"))
    Artifacts.fold(s, d, s"mor_orders_${suffix}_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
      if (!MergeOnRead.exists(s, dir, tbl))
        MergeOnRead.init(
          b(col("k") % 1000 =!= 7, col("status0"), col("cents0")),
          dir, tbl, Seq("k"))
      val b2 = b(col("k") % 1000 === 7, lit("N"), col("cents0"))
        .unionByName(b(col("k") % 200 === 3, lit("U2"), col("cents0") + 22))
      MergeOnRead.deltaMerge(s, dir, tbl,
        b(col("k") % 100 === 3, lit("U1"), col("cents0") + 11),
        spec, tlit(tsNow), batchId = 1L)
      MergeOnRead.deltaMerge(s, dir, tbl, b2, spec, tlit(tsNow), batchId = 2L)
      if (compactAfterBatch2) {
        if (minor) MergeOnRead.compactMinor(s, dir, tbl)
        else MergeOnRead.compact(s, dir, tbl)
      }
      // crash replay with a poisoned payload: the stamp must skip it
      MergeOnRead.deltaMerge(s, dir, tbl,
        b(col("k") % 200 === 3, lit("POISON"), lit(-1L)),
        spec, tlit(tsNow), batchId = 2L)
      MergeOnRead.deltaMerge(s, dir, tbl,
        b(col("k") % 400 === 3, lit("U3"), col("cents0") + 33),
        spec, tlit(tsNow), batchId = 3L)
    }
  }

  /** The delete-bearing MoR chain ([[morFold]]'s sibling): batch 1
    * updates k%100 == 3, batch 2 tombstones k%500 == 3 (replayed —
    * stamp-skipped), batch 3 re-inserts the k%1000 == 3 subset (every
    * 1000m+3 key is 3 mod 500, so these keys were all just deleted —
    * the resurrection path). Last-writer-wins with the delete flag on
    * the winning row decides visibility.
    */
  private def morDeleteFold(s: SparkSession, d: String): DataFrame = {
    val (dir, tbl) = morDeleteTable(s, d)
    graft.sources.MergeOnRead.readView(s, dir, tbl)
  }

  /** Builds (once, content-addressed) the delete-bearing MoR chain and
    * returns its (warehouseDir, table) for the view and change-feed
    * gates to read.
    */
  private def morDeleteTable(s: SparkSession, d: String): (String, String) = {
    import graft.sources.MergeOnRead
    val ord = rd(s, d, "orders")
    val src = ord.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status0"),
      round(col("o_totalprice") * 100).cast("long").as("cents0"))
    val spec = MergeSpec(Seq("k"), Seq("status", "cents"))
    Artifacts.fold(s, d, s"mor_orders_d2_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
      if (!MergeOnRead.exists(s, dir, tbl))
        MergeOnRead.init(
          src.where(col("k") % 1000 =!= 7).select(col("k"),
            col("status0").as("status"), col("cents0").as("cents")),
          dir, tbl, Seq("k"))
      MergeOnRead.deltaMerge(s, dir, tbl,
        src.where(col("k") % 100 === 3).select(col("k"),
          lit("U1").as("status"), (col("cents0") + 11).as("cents")),
        spec, tlit(tsNow), batchId = 1L)
      MergeOnRead.deltaDelete(s, dir, tbl,
        src.where(col("k") % 500 === 3).select("k"), batchId = 2L)
      // crash replay of the delete — the stamp must skip it
      MergeOnRead.deltaDelete(s, dir, tbl,
        src.where(col("k") % 2 === 0).select("k"), batchId = 2L)
      MergeOnRead.deltaMerge(s, dir, tbl,
        src.where(col("k") % 1000 === 3).select(col("k"),
          lit("R").as("status"), (col("cents0") + 77).as("cents")),
        spec, tlit(tsNow), batchId = 3L)
    }
  }

  /** Last-writer-wins with tombstones — [[morDeleteFold]]'s oracle. */
  private def morDeleteOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, o_orderstatus AS status0, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
      "stacked AS (" +
      "SELECT k, status0 AS status, cents0 AS cents, 0 AS seq, 0 AS del FROM src WHERE k % 1000 <> 7 " +
      "UNION ALL SELECT k, 'U1', cents0 + 11, 1, 0 FROM src WHERE k % 100 = 3 " +
      "UNION ALL SELECT k, NULL, NULL, 2, 1 FROM src WHERE k % 500 = 3 " +
      "UNION ALL SELECT k, 'R', cents0 + 77, 3, 0 FROM src WHERE k % 1000 = 3) " +
      "SELECT k, status, cents FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY k ORDER BY seq DESC) AS rn FROM stacked) " +
      "WHERE rn = 1 AND del = 0"

  /** PARTITION-SCOPED sibling of [[morFold]]
    * ([[graft.sources.MergeOnRead.initPartitioned]]): the same
    * last-writer-wins batch chain over a table partitioned on the
    * order's month — an immutable function of the key, the partition
    * contract. Every delta row routes to its month partition, the
    * manifest's per-partition map tracks which generation holds each
    * month's live copy, and the compact variant folds through the
    * partition-scoped path. The reconciled view must match the SAME
    * eager oracle (with the month column along for the ride) — proving
    * partition bookkeeping is invisible to readers.
    */
  private def morPartFold(s: SparkSession, d: String,
      compactAfterBatch2: Boolean): DataFrame = {
    val (dir, tbl) = morPartTable(s, d, compactAfterBatch2)
    graft.sources.MergeOnRead.readView(s, dir, tbl)
  }

  /** Builds (once, content-addressed) the partitioned chain and returns
    * its (warehouseDir, table) — the view, change-feed and
    * apply-changes gates all read it.
    */
  private def morPartTable(s: SparkSession, d: String,
      compactAfterBatch2: Boolean): (String, String) = {
    import graft.sources.MergeOnRead
    val ord = rd(s, d, "orders")
    val src = ord.select(col("o_orderkey").as("k"),
      date_format(col("o_orderdate"), "yyyy-MM").as("m"),
      col("o_orderstatus").as("status0"),
      round(col("o_totalprice") * 100).cast("long").as("cents0"))
    val suffix = if (compactAfterBatch2) "pc" else "pp"
    val spec = MergeSpec(Seq("k"), Seq("status", "cents"))
    def b(pred: Column, status: Column, cents: Column): DataFrame =
      src.where(pred).select(col("k"), col("m"), status.as("status"), cents.as("cents"))
    Artifacts.fold(s, d, s"mor_orders_part_${suffix}_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
      if (!MergeOnRead.exists(s, dir, tbl))
        MergeOnRead.initPartitioned(
          b(col("k") % 1000 =!= 7, col("status0"), col("cents0")),
          dir, tbl, Seq("k"), "m")
      val b2 = b(col("k") % 1000 === 7, lit("N"), col("cents0"))
        .unionByName(b(col("k") % 200 === 3, lit("U2"), col("cents0") + 22))
      MergeOnRead.deltaMerge(s, dir, tbl,
        b(col("k") % 100 === 3, lit("U1"), col("cents0") + 11),
        spec, tlit(tsNow), batchId = 1L)
      MergeOnRead.deltaMerge(s, dir, tbl, b2, spec, tlit(tsNow), batchId = 2L)
      if (compactAfterBatch2) MergeOnRead.compact(s, dir, tbl)
      // crash replay with a poisoned payload: the stamp must skip it
      MergeOnRead.deltaMerge(s, dir, tbl,
        b(col("k") % 200 === 3, lit("POISON"), lit(-1L)),
        spec, tlit(tsNow), batchId = 2L)
      MergeOnRead.deltaMerge(s, dir, tbl,
        b(col("k") % 400 === 3, lit("U3"), col("cents0") + 33),
        spec, tlit(tsNow), batchId = 3L)
    }
  }

  /** [[morOracleSql]] with the month partition column along. */
  private def morPartOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m') AS m, " +
      "o_orderstatus AS status0, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
      "stacked AS (" +
      "SELECT k, m, status0 AS status, cents0 AS cents, 0 AS seq FROM src WHERE k % 1000 <> 7 " +
      "UNION ALL SELECT k, m, 'U1', cents0 + 11, 1 FROM src WHERE k % 100 = 3 " +
      "UNION ALL SELECT k, m, 'N', cents0, 2 FROM src WHERE k % 1000 = 7 " +
      "UNION ALL SELECT k, m, 'U2', cents0 + 22, 2 FROM src WHERE k % 200 = 3 " +
      "UNION ALL SELECT k, m, 'U3', cents0 + 33, 3 FROM src WHERE k % 400 = 3) " +
      "SELECT k, m, status, cents FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY k ORDER BY seq DESC) AS rn FROM stacked) WHERE rn = 1"

  /** The streaming MoR upsert chain, batch-replayed
    * ([[graft.streaming.Streams.foldUpsertMorBatch]] — the exact
    * foreachBatch body of `upsertStreamMor`): four key-modulo
    * micro-batches, each carrying a STALE and a FINAL image per key
    * (the order column picks the final one — the last-image-per-key
    * dedup real upsert streams need), batch 2 crash-replays with a
    * poisoned payload (stamp-skipped), and the self-compacting chain's
    * read view must equal the one-pass oracle.
    */
  private def morStreamFold(s: SparkSession, d: String): DataFrame = {
    import graft.sources.MergeOnRead
    val ord = rd(s, d, "orders")
    val src = ord.select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents0"))
    val spec = MergeSpec(Seq("k"), Seq("cents"))
    val (dir, tbl) = Artifacts.fold(s, d, s"mor_stream_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
      if (!MergeOnRead.exists(s, dir, tbl))
        MergeOnRead.init(src.select(col("k"), col("cents0").as("cents")),
          dir, tbl, Seq("k"))
      def batch(i: Int, poison: Boolean): DataFrame = {
        val keys = src.where(col("k") % 4 === i)
        val fin = if (poison) lit(-99L) else col("cents0") + i
        keys.select(col("k"), lit(-1L).as("cents"), lit(1L).as("seq"))
          .unionByName(keys.select(col("k"), fin.as("cents"), lit(2L).as("seq")))
      }
      (0 until 4).foreach { i =>
        graft.streaming.Streams.foldUpsertMorBatch(
          batch(i, poison = false), i.toLong, dir, tbl, spec, tlit(tsNow),
          maxDeltaRatio = 0.2, dedupOrderCol = Some("seq"))
        if (i == 2) // crash replay: same batch id, poisoned — must no-op
          graft.streaming.Streams.foldUpsertMorBatch(
            batch(i, poison = true), i.toLong, dir, tbl, spec, tlit(tsNow),
            maxDeltaRatio = 0.2, dedupOrderCol = Some("seq"))
      }
    }
    MergeOnRead.readView(s, dir, tbl)
  }

  /** The stacked-UNION last-writer-wins oracle for [[morFold]]. */
  private def morOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, o_orderstatus AS status0, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
      "stacked AS (" +
      "SELECT k, status0 AS status, cents0 AS cents, 0 AS seq FROM src WHERE k % 1000 <> 7 " +
      "UNION ALL SELECT k, 'U1', cents0 + 11, 1 FROM src WHERE k % 100 = 3 " +
      "UNION ALL SELECT k, 'N', cents0, 2 FROM src WHERE k % 1000 = 7 " +
      "UNION ALL SELECT k, 'U2', cents0 + 22, 2 FROM src WHERE k % 200 = 3 " +
      "UNION ALL SELECT k, 'U3', cents0 + 33, 3 FROM src WHERE k % 400 = 3) " +
      "SELECT k, status, cents FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY k ORDER BY seq DESC) AS rn FROM stacked) WHERE rn = 1"

  /** SCHEMA-EVOLUTION chain ([[graft.sources.MergeOnRead.evolve]]):
    * the flat last-writer-wins chain with two columns ADDED mid-chain —
    * metadata-only DDL (nothing on disk rewritten). Batch 1 runs on the
    * original (k, status, cents) schema; `evolve` then adds
    * (note string, bonus bigint); batches 2–3 merge with the new
    * columns populated. The view must show NULL note/bonus on every key
    * whose winning image predates the evolve — base rows and batch-1
    * images alike — and the populated values elsewhere, per the eager
    * oracle. Batch 2 crash-replays poisoned (stamp-skipped) as always.
    */
  private def morSchemaTable(s: SparkSession, d: String): (String, String) = {
    import graft.sources.MergeOnRead
    val ord = rd(s, d, "orders")
    val src = ord.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status0"),
      round(col("o_totalprice") * 100).cast("long").as("cents0"))
    Artifacts.fold(s, d, s"mor_orders_ev_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
      if (!MergeOnRead.exists(s, dir, tbl))
        MergeOnRead.init(
          src.where(col("k") % 1000 =!= 7).select(col("k"),
            col("status0").as("status"), col("cents0").as("cents")),
          dir, tbl, Seq("k"))
      MergeOnRead.deltaMerge(s, dir, tbl,
        src.where(col("k") % 100 === 3).select(col("k"),
          lit("U1").as("status"), (col("cents0") + 11).as("cents")),
        MergeSpec(Seq("k"), Seq("status", "cents")), tlit(tsNow), batchId = 1L)
      // idempotent replay guard (the batch stamps guard the merges; the
      // DDL's own effect — cols in the manifest — guards the DDL)
      if (!MergeOnRead.manifest(s, dir, tbl).cols.contains("note"))
        MergeOnRead.evolve(s, dir, tbl, Seq("note" -> "string", "bonus" -> "bigint"))
      val wide = MergeSpec(Seq("k"), Seq("status", "cents", "note", "bonus"))
      def img(pred: Column, status: Column, cents: Column,
          note: Column, bonus: Column): DataFrame =
        src.where(pred).select(col("k"), status.as("status"), cents.as("cents"),
          note.as("note"), bonus.as("bonus"))
      val b2 = img(col("k") % 1000 === 7, lit("N"), col("cents0"),
          lit("new"), col("cents0") % 97)
        .unionByName(img(col("k") % 200 === 3, lit("U2"), col("cents0") + 22,
          lit("upd"), col("k") % 1000))
      MergeOnRead.deltaMerge(s, dir, tbl, b2, wide, tlit(tsNow), batchId = 2L)
      // crash replay with a poisoned payload: the stamp must skip it
      MergeOnRead.deltaMerge(s, dir, tbl,
        img(col("k") % 200 === 3, lit("POISON"), lit(-1L), lit("x"), lit(-1L)),
        wide, tlit(tsNow), batchId = 2L)
      MergeOnRead.deltaMerge(s, dir, tbl,
        img(col("k") % 400 === 3, lit("U3"), col("cents0") + 33,
          lit("u3"), lit(3L)),
        wide, tlit(tsNow), batchId = 3L)
    }
  }

  /** [[morOracleSql]] widened by the evolved columns: images before the
    * evolve carry NULLs — the add-column backfill semantics.
    */
  private def morSchemaOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, o_orderstatus AS status0, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
      "stacked AS (" +
      "SELECT k, status0 AS status, cents0 AS cents, " +
      "CAST(NULL AS VARCHAR) AS note, CAST(NULL AS BIGINT) AS bonus, 0 AS seq " +
      "FROM src WHERE k % 1000 <> 7 " +
      "UNION ALL SELECT k, 'U1', cents0 + 11, NULL, NULL, 1 FROM src WHERE k % 100 = 3 " +
      "UNION ALL SELECT k, 'N', cents0, 'new', cents0 % 97, 2 FROM src WHERE k % 1000 = 7 " +
      "UNION ALL SELECT k, 'U2', cents0 + 22, 'upd', k % 1000, 2 FROM src WHERE k % 200 = 3 " +
      "UNION ALL SELECT k, 'U3', cents0 + 33, 'u3', 3, 3 FROM src WHERE k % 400 = 3) " +
      "SELECT k, status, cents, note, bonus FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY k ORDER BY seq DESC) AS rn FROM stacked) WHERE rn = 1"

  /** [[morPartOracleSql]] truncated at batch 2 — the as-of-batch-2
    * view of the partitioned chain (the U3 batch not yet applied).
    */
  private def morAsOfOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m') AS m, " +
      "o_orderstatus AS status0, " +
      "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
      "stacked AS (" +
      "SELECT k, m, status0 AS status, cents0 AS cents, 0 AS seq FROM src WHERE k % 1000 <> 7 " +
      "UNION ALL SELECT k, m, 'U1', cents0 + 11, 1 FROM src WHERE k % 100 = 3 " +
      "UNION ALL SELECT k, m, 'N', cents0, 2 FROM src WHERE k % 1000 = 7 " +
      "UNION ALL SELECT k, m, 'U2', cents0 + 22, 2 FROM src WHERE k % 200 = 3) " +
      "SELECT k, m, status, cents FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY k ORDER BY seq DESC) AS rn FROM stacked) WHERE rn = 1"

  /** DuckDB replay of the pinned grid's bucketed histogram, as
    * WITH-clause bodies (`e`, `bk`, `h`): floor-division cells clamped
    * into [0, gridBins) — the same integers [[gridSketch]] computes.
    */
  private def gridBucketCte: String =
    "e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
      s"bk AS (SELECT event_type, LEAST(GREATEST((cents - $gridLo) // $gridWidth, 0), ${gridBins - 1}) AS b FROM e), " +
      "h AS (SELECT event_type, CAST(b AS BIGINT) AS b, count(*) AS c FROM bk GROUP BY 1, 2)"

  /** Per-event-type [[graft.functions.GridQuantileAgg]] sketch over
    * value cents: `(event_type, n, counts[gridBins])` — one combinable
    * aggregate pass, partials merged by elementwise addition.
    */
  private def gridSketch(events: DataFrame): DataFrame = {
    val gq = udaf(new graft.functions.GridQuantileAgg(gridLo, gridWidth, gridBins),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    events
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), gq(col("cents")).as("counts"))
  }

  /** Capacity of the hash-rank (derandomized-KLL) quantile sketch gates
    * — ONE constant feeding the Spark aggregator and the oracle's
    * level-selection replay.
    */
  private[graft] val kllK = 256

  /** Trailing-zero-BIT level key for the hash-rank sketch: derived
    * from the UNIQUE event id (hashing the value would bias duplicate
    * values together — the [[graft.functions.HashRankQuantileAgg]]
    * contract), md5-based so DuckDB replays the identical draw (the
    * [[graft.operators.Stats.bootstrapMeanCI]] discipline). Bits, not
    * nibbles: 4·tzNibbles plus the trailing-zero bits of the last
    * non-zero hex char ({8}→3, {4,c}→2, {2,6,a,e}→1, odd→0) — the
    * halving-per-level draw that keeps the survivor sample above ~k/2
    * after a bump instead of ~k/16.
    */
  private def kllTz: Column = {
    val h = md5(concat(lit("kll:"), col("event_id").cast("string")).cast("binary"))
    val tzn = length(regexp_extract(h, "(0*)$", 1)).cast("int")
    val lastNz = h.substr(lit(32) - tzn, lit(1))
    (tzn * 4 +
      when(lastNz === "8", 3)
        .when(lastNz.isin("4", "c"), 2)
        .when(lastNz.isin("2", "6", "a", "e"), 1)
        .otherwise(0)).cast("int")
  }

  /** Per-event-type hash-rank quantile sketch over value cents:
    * `(event_type, sk = {level, n, items[(tz, v)]})` — one combinable
    * aggregate, state ≤ [[kllK]] pairs regardless of input size, final
    * content a pure function of the input multiset (merge-order-proof).
    */
  private def kllSketch(events: DataFrame): DataFrame = {
    val agg = udaf(new graft.functions.HashRankQuantileAgg(kllK),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Long)]())
    events
      .select(col("event_type"), kllTz.as("tz"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(agg(col("tz"), col("cents")).as("sk"))
  }

  /** Flatten the sketch struct to the `(group, level, n, items)` state
    * rows [[graft.operators.Quantiles.hashRankReadout]] and
    * [[graft.operators.Quantiles.mergeHashRankStates]] consume.
    */
  private def kllStates(sk: DataFrame): DataFrame =
    sk.select(col("event_type"), col("sk.level").as("level"),
      col("sk.n").as("n"), col("sk.items").as("items"))

  private def kllEstimates(sk: DataFrame): DataFrame =
    graft.operators.Quantiles.hashRankReadout(kllStates(sk), "event_type")

  /** DuckDB replay of the hash-rank sketch pipeline: same md5
    * trailing-zero-BIT draw, level = min l with ≤ k survivors, survivor
    * integer-rank picks.
    */
  private def kllOracleSql: String =
    "WITH h AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v, " +
      "md5('kll:' || CAST(event_id AS VARCHAR)) AS hx FROM events), " +
      "e AS (SELECT event_type, v, " +
      "4 * length(regexp_extract(hx, '(0*)$', 1)) + " +
      "CASE substr(hx, 32 - length(regexp_extract(hx, '(0*)$', 1)), 1) " +
      "WHEN '8' THEN 3 WHEN '4' THEN 2 WHEN 'c' THEN 2 " +
      "WHEN '2' THEN 1 WHEN '6' THEN 1 WHEN 'a' THEN 1 WHEN 'e' THEN 1 " +
      "ELSE 0 END AS tz FROM h), " +
      "tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1), " +
      "ls AS (SELECT t.event_type, gs.l FROM (SELECT DISTINCT event_type FROM e) t, " +
      "generate_series(0, 128) gs(l)), " +
      "pc AS (SELECT ls.event_type, ls.l, count(e2.v) AS c FROM ls LEFT JOIN e e2 " +
      "ON e2.event_type = ls.event_type AND e2.tz >= ls.l GROUP BY 1, 2), " +
      s"lv AS (SELECT event_type, CAST(min(l) AS INT) AS level FROM pc WHERE c <= $kllK GROUP BY 1), " +
      "surv AS (SELECT e.event_type, v FROM e JOIN lv USING (event_type) WHERE tz >= level), " +
      "r AS (SELECT event_type, v, row_number() OVER (PARTITION BY event_type ORDER BY v) AS pos, " +
      "count(*) OVER (PARTITION BY event_type) AS m FROM surv) " +
      "SELECT r.event_type, max(tot.n) AS n, CAST(max(lv.level) AS INT) AS level, " +
      "CAST(max(m) AS BIGINT) AS m_sample, " +
      "CAST(min(CASE WHEN pos = (m + 1) // 2 THEN v END) AS BIGINT) AS p50_est, " +
      "CAST(min(CASE WHEN pos = (m * 9 + 9) // 10 THEN v END) AS BIGINT) AS p90_est " +
      "FROM r JOIN lv USING (event_type) JOIN tot USING (event_type) GROUP BY 1"

  /** Four-batch replayed fold of the hash-rank sketch state
    * ([[graft.streaming.Streams.foldKllBatch]]): content-addressed
    * state table under target/, batch 2 replayed with poisoned values
    * (stamp-skipped), readout off the persisted states.
    */
  private def kllStreamFold(s: SparkSession, d: String): DataFrame = {
    val ev = rd(s, d, "events")
    def prepped(poison: Boolean): DataFrame =
      ev.select(col("event_type"), col("event_id"), kllTz.as("tz"),
        (round(col("value") * 100).cast("long") +
          (if (poison) lit(999999L) else lit(0L))).as("cents"))
    // v2: the table name carries the DRAW version — the bit-granular
    // draw changed the persisted state's content, and a pre-existing
    // nibble-draw table would stamp-skip the refold
    val (dir, tbl) = Artifacts.fold(s, d, s"kll_state_v2_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
      (0 until 4).foreach { i =>
        graft.streaming.Streams.foldKllBatch(
          prepped(poison = false).where(col("event_id") % 4 === i),
          i.toLong, dir, tbl, "event_type", "tz", "cents", kllK)
        if (i == 2) // crash replay: same id, poisoned values — must no-op
          graft.streaming.Streams.foldKllBatch(
            prepped(poison = true).where(col("event_id") % 4 === i),
            i.toLong, dir, tbl, "event_type", "tz", "cents", kllK)
      }
    }
    graft.operators.Quantiles.hashRankReadout(
      graft.sources.Warehouse.read(s, dir, tbl).drop("last_batch_id"),
      "event_type")
  }

  /** Pinned length-k subsequence patterns for `seq_subseq_k` — two
    * 4-step funnels and one 5-step with a repeated type (each
    * occurrence needs its own strictly-later timestamp).
    */
  private[graft] val seqPatternsK: Seq[Seq[String]] = Seq(
    Seq("signup", "view", "click", "purchase"),
    Seq("view", "error", "click", "purchase"),
    Seq("view", "click", "view", "click", "purchase"))

  /** Patterns + 48 h adjacent-gap bound for `seq_subseq_gap`. */
  private[graft] val seqPatternsGap: Seq[Seq[String]] = Seq(
    Seq("view", "click", "purchase"),
    Seq("signup", "view", "click", "purchase"))
  private[graft] val seqGapUs: Long = 48L * 3600L * 1000000L

  /** Unrolled DISTINCT-frontier chain oracle for [[seqPatternsGap]]:
    * Mᵢ = distinct (user, t) of type pᵢ within the gap of Mᵢ₋₁ —
    * the same set-valued DP the operator runs.
    */
  private def seqSubseqGapOracleSql: String = {
    val types = seqPatternsGap.flatten.distinct.map(t => s"'$t'").mkString(", ")
    val chains = seqPatternsGap.map { p =>
      val label = p.mkString(">")
      val steps = p.zipWithIndex.map { case (ty, i) =>
        if (i == 0)
          s"m0 AS (SELECT user_id, t FROM e WHERE y = '$ty')"
        else
          s"m$i AS (SELECT DISTINCT e.user_id, e.t FROM e " +
            s"JOIN m${i - 1} ON e.user_id = m${i - 1}.user_id " +
            s"AND e.t > m${i - 1}.t AND e.t - m${i - 1}.t <= $seqGapUs " +
            s"WHERE e.y = '$ty')"
      }.mkString(", ")
      s"(SELECT '$label' AS pattern, CAST(count(DISTINCT user_id) AS BIGINT) AS n_support " +
        s"FROM (WITH $steps SELECT user_id FROM m${p.size - 1}))"
    }.mkString(" UNION ALL ")
    "WITH e AS (SELECT user_id, event_type AS y, epoch_us(ts) AS t FROM events " +
      s"WHERE event_type IN ($types)), " +
      "tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events) " +
      s"SELECT pattern, n_support, n_users, n_support * 1000000 // n_users AS support_ppm " +
      s"FROM ($chains) CROSS JOIN tot"
  }

  /** Greedy chained-min oracle for [[seqPatternsK]]: tᵢ = min t of
    * type pᵢ strictly past tᵢ₋₁ per user — exact for strict-time
    * subsequence existence, unrolled per pattern.
    */
  private def seqSubseqKOracleSql: String = {
    val types = seqPatternsK.flatten.distinct.map(t => s"'$t'").mkString(", ")
    val chains = seqPatternsK.map { p =>
      val label = p.mkString(">")
      val steps = p.zipWithIndex.map { case (ty, i) =>
        if (i == 0)
          s"s0 AS (SELECT user_id, min(t) AS t0 FROM e WHERE y = '$ty' GROUP BY 1)"
        else
          s"s$i AS (SELECT e.user_id, min(t) AS t$i FROM e JOIN s${i - 1} USING (user_id) " +
            s"WHERE y = '$ty' AND t > t${i - 1} GROUP BY 1)"
      }.mkString(", ")
      s"(SELECT '$label' AS pattern, CAST(count(*) AS BIGINT) AS n_support " +
        s"FROM (WITH $steps SELECT user_id FROM s${p.size - 1}))"
    }.mkString(" UNION ALL ")
    "WITH e AS (SELECT user_id, event_type AS y, epoch_us(ts) AS t FROM events " +
      s"WHERE event_type IN ($types)), " +
      "tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events) " +
      s"SELECT pattern, n_support, n_users, n_support * 1000000 // n_users AS support_ppm " +
      s"FROM ($chains) CROSS JOIN tot"
  }

  /** Blocked fuzzy name linkage over `part` (the `link_fuzzy_names`
    * body, factored for the ScaleSpec pair-count assertion): composite
    * blocking on (last token, floor(length/4) with ±1 probe buckets),
    * exact within the `levenshtein <= 3` contract — an edit changes
    * length by at most 1, so |len_a − len_b| ≤ 3 < 4 pins the bucket
    * gap to at most 1.
    */
  private[graft] def linkFuzzyNamePairs(part: DataFrame): DataFrame = {
    val p = part.select(col("p_name")).distinct()
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      .withColumn("lb", expr("length(p_name) div 4"))
    val probes = p.select(col("p_name").as("name_a"), col("blk"), col("lb"))
      .withColumn("lbp", explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
    val home = p.select(col("p_name").as("name_b"), col("blk").as("blk2"),
      col("lb").as("lb2"))
    probes.join(home, col("blk") === col("blk2") && col("lbp") === col("lb2") &&
        col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") <= 3)
      .select("name_a", "name_b", "dist")
  }

  /** Pinned rectangular zone catalog for `geo_zone_assign` — zones 1/2
    * overlap (the min-id rule is exercised) and the plane's upper band
    * is uncovered below y 60000 between x 30000..40000 (NULL rows
    * exist at every SF). ONE constant feeding both engines.
    */
  private[graft] val geoZones = Seq(
    (1L, 0L, 30000L, 0L, 30000L),
    (2L, 20000L, 60000L, 10000L, 50000L),
    (3L, 50000L, 100002L, 0L, 40000L),
    (4L, 0L, 100002L, 60000L, 100002L),
    (5L, 40000L, 45000L, 40000L, 45000L))

  /** DuckDB VALUES body for [[geoZones]]. */
  private def geoZonesValues: String =
    geoZones.map { case (z, xl, xh, yl, yh) => s"($z, $xl, $xh, $yl, $yh)" }
      .mkString(", ")

  /** Pinned CONCAVE polygon for the ray-casting gate (the notch at the
    * top is what no rectangle catalog expresses) — ONE constant feeding
    * [[graft.operators.Geo.pointInPolygon]] and the oracle's edge
    * VALUES.
    */
  private val geoPolygon: Seq[(Long, Long)] = Seq(
    (20000L, 20000L), (80000L, 20000L), (80000L, 80000L),
    (50000L, 50000L), (20000L, 80000L))

  /** DuckDB VALUES body of [[geoPolygon]]'s closed edge list. */
  private def geoPolygonEdges: String =
    geoPolygon.zip(geoPolygon.tail :+ geoPolygon.head)
      .map { case ((x1, y1), (x2, y2)) => s"($x1, $y1, $x2, $y2)" }
      .mkString(", ")

  /** DuckDB replay of [[geoPoints]], as a WITH-clause body. */
  private def geoPtsCte(alias: String, table: String, keyCol: String,
      mx: Long, my: Long, where: String = ""): String =
    s"$alias AS (SELECT $keyCol AS id, ($keyCol * $mx) % 100003 AS x, " +
      s"($keyCol * $my) % 100003 AS y FROM $table$where)"

  private def sharedStageOn(s: SparkSession, d: String, stage: String,
      srcTable: String, keyCol: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val (dir, tbl) = Artifacts.table(s, d, s"stage_$stage", rd(s, d, srcTable), keyCol)(build)
    graft.sources.Warehouse.read(s, dir, tbl)
  }

  /** Yesterday's FULL ancestor closure of the `incr_hierarchy_*` rank
    * tree (`edges` over the ranked spine `dd` of `o`), materialized once
    * per content epoch — the maintenance premise of the subtree move
    * and delete gates, which time the maintenance, not a rebuild.
    */
  private def closureFull(s: SparkSession, d: String, o: DataFrame,
      edges: DataFrame, dd: DataFrame): DataFrame = {
    val (dir, tbl) = Artifacts.table(s, d, "closure_full", o, "k")(_ =>
      graft.operators.Graph.ancestorClosure(edges, dd.select(col("r"))))
    graft.sources.Warehouse.read(s, dir, tbl)
  }

  /** The persisted IVF-PQ index `ann_ivfpq_indexed` and
    * `ann_ivfpq_rerank_io` serve from, built once per content epoch;
    * returns its (dir, table). v2: the index carries the id-bucketed
    * _vectors projection the re-rank fetch prunes on (content-semantics
    * version bump).
    */
  private def ivfPqIndex(s: SparkSession, d: String, emb: DataFrame): (String, String) =
    Artifacts.fold(s, d, s"ivfpq_v2_${contentEpoch(emb, "vec_id")}") { (dir, tbl) =>
      if (!graft.sources.Warehouse.exists(s, dir, s"${tbl}_vectors"))
        Similarity.buildIvfPqIndex(emb, col("vec_id") >= 10, dir, tbl,
          numCentroids = 8)
    }

  /** The 16-file orders layout hashed on `o_custkey` (every file spans
    * the full orderkey domain) that the bloom gates index, written
    * once per content `epoch`; returns its path.
    */
  private def bloomOrders(s: SparkSession, d: String, o: DataFrame, epoch: String): String =
    Artifacts.path(s, d, s"bloom_orders_$epoch")(tmp =>
      o.repartition(16, col("o_custkey")).write.mode("overwrite").parquet(tmp))

  private def sharedStage(s: SparkSession, d: String, stage: String)(
      build: DataFrame => DataFrame): DataFrame =
    sharedStageOn(s, d, stage, "documents", "doc_id")(build)

  /** The co-purchase edge derivation — the full from-parquet build of
    * the [[sharedCoEdges]] materialized view, factored out so the
    * `stage_coedges_build` MV-REFRESH gate times exactly the work the
    * stage writer performs.
    */
  private def coEdgeDerivation(li: DataFrame): DataFrame = {
    val raw = li.select(col("l_suppkey").as("s"),
      (col("l_partkey") + 1000000L).as("p"))
    raw.select(col("s").as("src"), col("p").as("dst"))
      .unionByName(raw.select(col("p").as("src"), col("s").as("dst")))
      .distinct()
  }

  /** Materialized undirected supplier↔part co-purchase edge list —
    * the shared upstream of the six `graph_*` gates that previously
    * each re-derived it from lineitem (six full fact scans per suite
    * pass). One content-addressed parquet stage (the [[sharedStage]]
    * discipline on the lineitem epoch) holds the DISTINCT
    * bidirectional edges; distinct is hash-neutral because every
    * [[graft.operators.Graph]] operator distincts its input edges
    * anyway, and it shrinks the stage to the graph's true edge set.
    * Part ids offset past the supplier key range (the graph family's
    * shared node-id convention).
    *
    * BENCH HONESTY: the derivation cost is carried by the benched
    * `stage_coedges_build` gate (which recomputes [[coEdgeDerivation]]
    * from the parquet fact on every timed pass), and Bench wipes every
    * `stage_*` table at startup so a run can never inherit this MV
    * from a previous run — consumers here are MV readers, the refresh
    * is paid and reported by every bench invocation.
    */
  private def sharedCoEdges(s: SparkSession, d: String): DataFrame =
    sharedStageOn(s, d, "coedges", "lineitem", "l_orderkey")(coEdgeDerivation)

  /** Materialized capped 3-clique order→part projection edges — the
    * shared upstream of `graph_triangles`, `graph_clustering` and
    * `graph_link_predict`, which previously each re-derived it from
    * lineitem (three distinct+groupBy+explode passes over the fact per
    * suite pass). The [[sharedCoEdges]] discipline: one
    * content-addressed stage, consumers feed the SAME rows to their
    * graph operator, results byte-identical.
    */
  private def triEdgeDerivation(li: DataFrame): DataFrame = {
    val lp = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val t3 = lp.groupBy("o")
      .agg(slice(sort_array(collect_list(col("p"))), 1, 3).as("ps"))
    val pairs = array(
      struct(get(col("ps"), lit(0)).as("src"), get(col("ps"), lit(1)).as("dst")),
      struct(get(col("ps"), lit(0)).as("src"), get(col("ps"), lit(2)).as("dst")),
      struct(get(col("ps"), lit(1)).as("src"), get(col("ps"), lit(2)).as("dst")))
    t3.select(explode(pairs).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .where(col("dst").isNotNull)
  }

  /** BENCH HONESTY: the derivation cost is the benched
    * `stage_triedges_build` gate's subject ([[sharedCoEdges]]'
    * discipline); Bench wipes `stage_*` at startup.
    */
  private def sharedTriEdges(s: SparkSession, d: String): DataFrame =
    sharedStageOn(s, d, "triedges", "lineitem", "l_orderkey")(triEdgeDerivation)

  /** Materialized `Affinity.pairLift(lineitem, 2)` — the co-purchase
    * pair table shared by the component gates (`graph_components`,
    * `incr_components_maintain`) and the recommender gates
    * (`rec_item_cosine`, `rec_user_topn`), which previously each
    * re-mined it from the fact (a distinct + basket self-join + pair
    * aggregation per gate per suite pass). `basket_pair_lift` keeps
    * computing the SAME operator from the parquet fact, so the mining
    * cost itself stays benched; consumers here time their own operator
    * over the shared artifact — the production shape, where the pair
    * table is materialized once and served to every downstream.
    */
  private def sharedPairLift(s: SparkSession, d: String): DataFrame =
    sharedStageOn(s, d, "copairs_ms2", "lineitem", "l_orderkey")(li =>
      graft.operators.Affinity.pairLift(li, minSupport = 2))

  /** Materialized `Dedup.ngramJaccardPairs(docs, 1, 20)`.
    * BENCH HONESTY: `dedup_ngram_jaccard` IS this stage's benched
    * build gate — the identical `ngramJaccardPairs(docs, 1, 20)` from
    * the parquet corpus on every timed pass — and Bench wipes
    * `stage_*` at startup, so every run pays and reports the refresh.
    */
  private def sharedPairs(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "pairs_1_20")(docs =>
      Dedup.ngramJaccardPairs(docs, 1, 20))

  /** Materialized keep-list over [[sharedPairs]]' clusters.
    * BENCH HONESTY: the incremental cost of this stage over the pair
    * MV (cluster contraction + survivor pick) is exactly what the
    * benched `dedup_keep_list` gate recomputes on every timed pass;
    * the pair MV itself is `dedup_ngram_jaccard`'s subject.
    */
  private def sharedKeepList(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "keep_1_20")(docs =>
      Dedup.keepListFromClusters(docs,
        Dedup.dedupClusters(sharedPairs(s, d))))

  /** The trained probe's keep set at the 52% precision operating point
    * — the [[sharedStage]]d quality-filter artifact `pipeline_curation_v6`
    * serves. Factored so the benched `stage_probekeep_build` gate times
    * exactly the train-and-score derivation the stage writer performs.
    */
  private def probeKeepDerivation(docs: DataFrame): DataFrame =
    TextAnalysis.probeKeepDocs(docs,
      length(col("source")) === 4, targetPrecisionPpm = 520000L)

  private def sharedProbeKeep(s: SparkSession, d: String): DataFrame =
    sharedStage(s, d, "probekeep_520")(probeKeepDerivation)

  private val ts0 = "2020-01-01 00:00:00"
  private val tsNow = "2024-06-01 00:00:00"
  private def tlit(v: String): Column = to_timestamp(lit(v))

  /** Deterministic messy-unicode prefix for `text_normalize`: decomposed
    * accent (e + U+0301), curly quotes, em dash, zero-width space, NBSP,
    * and a double space — one instance of every normalization rule. The
    * SAME Scala constant is interpolated into the oracle SQL literal so
    * the two sides cannot drift.
    */
  private[graft] val messyPrefix =
    "Cafe\u0301 \u201Cq\u201D \u2014 \u200Bx\u00A0y \u2018z\u2019  "

  /** Lexical-retrieval gate config, shared by query and oracle so the
    * two sides cannot drift: the phrase exists at every driver SF, and
    * the BM25 batch mixes the corpus's one rare token (`dup`) with
    * common terms so the df weighting is exercised.
    */
  /** Blocklist for `text_blocklist`, shared by query and oracle. The
    * list deliberately nests one pattern inside another ("scan" inside
    * "table scan") and self-overlaps one ("batch batch" in a "batch
    * batch batch" run matches twice) — pinning the all-occurrences
    * semantics an Aho–Corasick pass produces, which per-pattern
    * `replace`-counting would get wrong.
    */
  private[graft] val blocklist = Seq("table scan", "scan", "batch batch", "slow key")

  /** The pinned event-type state space for the Markov steady-state
    * gate — ONE constant feeding both the Spark side and the oracle's
    * static pivot, so the two can never disagree on k or the uniform
    * start. Sorted (the summation-order contract).
    */
  private[graft] val eventStates =
    Seq("click", "error", "purchase", "signup", "view")

  /** Pinned ordered-subsequence patterns for `seq_subseq_support` —
    * includes a same-type triple (needs a third occurrence STRICTLY
    * between the first and last, the documented tie semantics).
    */
  private[graft] val seqTriples = Seq(
    ("view", "click", "purchase"),
    ("view", "error", "purchase"),
    ("signup", "view", "purchase"),
    ("click", "view", "purchase"),
    ("purchase", "purchase", "purchase"))

  private[graft] val searchPhrase = Seq("fast", "table")
  private[graft] val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("dup", "table"),
    2 -> Seq("vector", "stream", "merge"),
    3 -> Seq("dup", "scan", "key"))

  /** Flagship query on sf=0.001: revenue by market segment (3-table
    * join + aggregation). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_seg_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** One gate: a query and the DuckDB SQL that must reproduce its
    * output. The oracle is by-name and built on first read, so building
    * `queries` builds no oracle string. Hash-seeded operators get full
    * algorithm-replay oracles from [[OracleSql]] (portable hash family +
    * bit-exact double replication), so no gate is rows-only.
    */
  private[graft] final class Gate(
      val name: String,
      val query: (SparkSession, String) => DataFrame,
      sql: => String) {
    lazy val oracle: String = sql
  }
  private[graft] object Gate {
    def apply(name: String, query: (SparkSession, String) => DataFrame, sql: => String): Gate =
      new Gate(name, query, sql)
  }

  /** Built once per JVM: a lookup is then a map probe, not a rebuild of
    * every gate. Holds only the query closures, no oracle string.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  /** Every gate in suite order. A `def`, so no oracle string stays
    * alive between calls.
    */
  private[graft] def gates: Seq[Gate] = Seq(
    // —— SURVEY §2.1 scans ——
    Gate("s4_scan_prune", (s, d) =>
      rd(s, d, "lineitem")
        .filter(col("l_extendedprice") > 45000)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_extendedprice > 45000"),
    Gate("s5_point_lookup", (s, d) =>
      rd(s, d, "orders")
        .filter(col("o_orderkey") === 42)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 42"),

    // —— SURVEY §2.2 projections / filters / scalar fns ——
    Gate("p1_rename_project", (s, d) =>
      rd(s, d, "lineitem").select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("l_quantity").as("qty"),
        col("l_returnflag").as("return_flag")),
      "SELECT l_orderkey AS order_key, l_linenumber AS line_number, l_quantity AS qty, l_returnflag AS return_flag FROM lineitem"),
    Gate("p3_date_cast", (s, d) =>
      rd(s, d, "orders").select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date")),
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders"),
    Gate("p5_window_filter", (s, d) =>
      rd(s, d, "lineitem")
        .filter(col("l_shipdate").between(
          tlit("1997-01-01 00:00:00"), tlit("1997-12-31 23:59:59")))
        .select("l_orderkey", "l_linenumber", "l_shipdate"),
      "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'"),
    Gate("p6_aqi_banding", (s, d) => {
      val aqi = (floor(col("l_extendedprice")).cast("long") % 400 - 20).cast("int")
      rd(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        aqi.as("aqi_value"), aqiCategory(aqi).as("aqi_category"))
    },
      ("SELECT l_orderkey, l_linenumber, CAST(CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 AS INT) AS aqi_value, " +
        "CASE WHEN CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 BETWEEN 0 AND 50 THEN 'Good' " +
        "WHEN CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 BETWEEN 51 AND 100 THEN 'Moderate' " +
        "WHEN CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 BETWEEN 101 AND 150 THEN 'Unhealthy for Sensitive Groups' " +
        "WHEN CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 BETWEEN 151 AND 200 THEN 'Unhealthy' " +
        "WHEN CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 BETWEEN 201 AND 300 THEN 'Very Unhealthy' " +
        "WHEN CAST(floor(l_extendedprice) AS BIGINT) % 400 - 20 > 300 THEN 'Hazardous' " +
        "ELSE 'Unknown' END AS aqi_category FROM lineitem")),
    Gate("p7_trim", (s, d) =>
      rd(s, d, "customer").select(
        col("c_custkey"),
        trim(concat(lit("  "), col("c_name"), lit("  "))).as("c_name_trim")),
      "SELECT c_custkey, trim('  ' || c_name || '  ') AS c_name_trim FROM customer"),
    Gate("p10_literal_filter", (s, d) =>
      rd(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_mktsegment"),
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'"),

    // —— SURVEY §2.3 joins ——
    Gate("j1_full_outer", (s, d) => {
      val c = rd(s, d, "customer")
        .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = rd(s, d, "supplier")
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
    },
      ("SELECT COALESCE(c.nationkey, su.nationkey) AS nationkey, c.n_cust, su.n_supp FROM " +
        "(SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c " +
        "FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) su " +
        "ON c.nationkey = su.nationkey")),
    Gate("j2_dim_join", (s, d) =>
      rd(s, d, "nation")
        .join(broadcast(rd(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name")),
      "SELECT n_nationkey, n_name, r_name AS region_name FROM nation JOIN region ON n_regionkey = r_regionkey"),
    Gate("j4_composite_join", (s, d) => {
      val li = rd(s, d, "lineitem")
      val ps = li.groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("sum_qty"))
      li.join(ps, Seq("l_partkey", "l_suppkey"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "n_lines", "sum_qty")
    },
      ("SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, ps.n_lines, ps.sum_qty FROM lineitem l JOIN " +
        "(SELECT l_partkey, l_suppkey, count(*) AS n_lines, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1, 2) ps " +
        "ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey")),
    Gate("j6_not_in", (s, d) =>
      // an isin(Dataset) subquery: Catalyst plans the null-aware anti
      // join that preserves SQL NOT IN semantics (SURVEY §2.3 J6)
      rd(s, d, "orders")
        .where(!col("o_orderkey").isin(rd(s, d, "lineitem").select("l_orderkey")))
        .select("o_orderkey", "o_totalprice"),
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)"),
    Gate("j7_not_exists", (s, d) =>
      rd(s, d, "customer")
        .join(
          rd(s, d, "orders").filter(col("o_orderdate") >= tlit("1999-06-01 00:00:00")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      ("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '1999-06-01 00:00:00')")),
    Gate("j9_salted_join", (s, d) =>
      // the skew-mitigation path under the oracle gate: salted join
      // must equal the plain join bit-for-bit (oracle IS the plain SQL)
      graft.operators.Skew.saltedJoin(
        rd(s, d, "orders"),
        rd(s, d, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"), saltFactor = 8)
        .select("o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice"),
      ("SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice " +
        "FROM orders JOIN customer ON c_custkey = o_custkey")),
    Gate("j8_semi_join", (s, d) =>
      rd(s, d, "customer")
        .join(
          rd(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      ("SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)")),

    // —— set operations ——
    Gate("set_union", (s, d) =>
      rd(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .union(rd(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct(),
      "SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey AS nationkey FROM supplier"),
    Gate("set_intersect", (s, d) =>
      rd(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(rd(s, d, "supplier").select(col("s_nationkey").as("nationkey"))),
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey AS nationkey FROM supplier"),
    Gate("set_except", (s, d) =>
      rd(s, d, "orders").select(col("o_orderkey").as("k"))
        .except(rd(s, d, "lineitem").select(col("l_orderkey").as("k"))),
      "SELECT o_orderkey AS k FROM orders EXCEPT SELECT l_orderkey AS k FROM lineitem"),
    Gate("set_except_all", (s, d) =>
      // BAG semantics: multiplicities subtract instead of collapsing —
      // a priority appearing 3x among fulfilled and 1x among open
      // orders survives twice (per-custkey slice keeps it data-bearing)
      rd(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"), col("o_orderpriority").as("prio"))
        .exceptAll(rd(s, d, "orders").where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k"), col("o_orderpriority").as("prio"))),
      ("SELECT o_custkey AS k, o_orderpriority AS prio FROM orders WHERE o_orderstatus = 'F' " +
        "EXCEPT ALL SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'")),
    Gate("set_intersect_all", (s, d) =>
      // BAG intersection: min of the two multiplicities per row value
      rd(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"), col("o_orderpriority").as("prio"))
        .intersectAll(rd(s, d, "orders").where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k"), col("o_orderpriority").as("prio"))),
      ("SELECT o_custkey AS k, o_orderpriority AS prio FROM orders WHERE o_orderstatus = 'F' " +
        "INTERSECT ALL SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'")),

    // —— SURVEY §2.4 distinct / dedup ——
    Gate("a1_distinct", (s, d) =>
      rd(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
    Gate("a4_distinct_wide", (s, d) =>
      rd(s, d, "events").select("user_id", "event_type").distinct(),
      "SELECT DISTINCT user_id, event_type FROM events"),
    Gate("a6_dedup_keepfirst", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      rd(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    },
      ("SELECT o_custkey, o_orderkey, o_orderdate FROM (SELECT o_custkey, o_orderkey, o_orderdate, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn FROM orders) t WHERE rn = 1")),

    // —— SURVEY §2.5 SCD-1 merges (join-based rewrite of U1–U3) ——
    Gate("u1_merge_scd1", (s, d) => {
      val cust = rd(s, d, "customer")
      val tgt = cust.filter(col("c_custkey") % 3 === 0).select(
        col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"),
        tlit(ts0).as("created_date"), tlit(ts0).as("last_updated"))
      val src = cust.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey").as("key"), upper(col("c_name")).as("name"),
        (col("c_acctbal") + 100).as("acctbal"))
      Merge.scd1(tgt, src,
        MergeSpec(Seq("key"), Seq("name"),
          createdCol = Some("created_date"), updatedCol = Some("last_updated"),
          statusCol = Some("row_status")),
        tlit(tsNow))
    },
      (s"WITH tgt AS (SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal, " +
        s"TIMESTAMP '$ts0' AS created_date, TIMESTAMP '$ts0' AS last_updated, 1 AS tf " +
        "FROM customer WHERE c_custkey % 3 = 0), " +
        "src AS (SELECT c_custkey AS key, upper(c_name) AS name, c_acctbal + 100 AS acctbal, 1 AS sf " +
        "FROM customer WHERE c_custkey % 2 = 0) " +
        "SELECT COALESCE(t.key, s.key) AS key, " +
        "CASE WHEN s.sf IS NOT NULL THEN s.name ELSE t.name END AS name, " +
        "CASE WHEN t.tf IS NOT NULL THEN t.acctbal ELSE s.acctbal END AS acctbal, " +
        s"CASE WHEN t.tf IS NOT NULL THEN t.created_date ELSE TIMESTAMP '$tsNow' END AS created_date, " +
        s"CASE WHEN s.sf IS NOT NULL THEN TIMESTAMP '$tsNow' ELSE t.last_updated END AS last_updated, " +
        "CASE WHEN t.tf IS NOT NULL AND s.sf IS NOT NULL THEN 'updated' WHEN s.sf IS NOT NULL THEN 'inserted' ELSE 'kept' END AS row_status " +
        "FROM tgt t FULL OUTER JOIN src s ON t.key = s.key")),
    Gate("u2_merge_nullsafe", (s, d) => {
      val cust = rd(s, d, "customer")
      val nullAt = (at: Int) =>
        when(col("c_custkey") === at, lit(null).cast("long")).otherwise(col("c_custkey"))
      val tgt = cust.filter(col("c_custkey") < 100)
        .select(nullAt(50).as("key"), col("c_name").as("name"))
      val src = cust.filter(col("c_custkey").between(80, 120))
        .select(nullAt(110).as("key"), upper(col("c_name")).as("name"))
      Merge.scd1(tgt, src,
        MergeSpec(Seq("key"), Seq("name"), nullSafeKeys = true,
          statusCol = Some("row_status")),
        tlit(tsNow))
    },
      ("WITH tgt AS (SELECT CASE WHEN c_custkey = 50 THEN NULL ELSE c_custkey END AS key, c_name AS name, 1 AS tf " +
        "FROM customer WHERE c_custkey < 100), " +
        "src AS (SELECT CASE WHEN c_custkey = 110 THEN NULL ELSE c_custkey END AS key, upper(c_name) AS name, 1 AS sf " +
        "FROM customer WHERE c_custkey BETWEEN 80 AND 120) " +
        "SELECT COALESCE(t.key, s.key) AS key, " +
        "CASE WHEN s.sf IS NOT NULL THEN s.name ELSE t.name END AS name, " +
        "CASE WHEN t.tf IS NOT NULL AND s.sf IS NOT NULL THEN 'updated' WHEN s.sf IS NOT NULL THEN 'inserted' ELSE 'kept' END AS row_status " +
        "FROM tgt t FULL OUTER JOIN src s ON t.key IS NOT DISTINCT FROM s.key")),
    Gate("u3_merge_multikey", (s, d) => {
      val base = rd(s, d, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n_rows"))
      val tgt = base.filter(col("l_orderkey") < 5000)
      val src = base.filter(col("l_orderkey").between(2500, 7500))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("qty") * 2).as("qty"), col("n_rows"))
      Merge.scd1(tgt, src,
        MergeSpec(Seq("l_orderkey", "l_linenumber"), Seq("qty"),
          statusCol = Some("row_status")),
        tlit(tsNow))
    },
      ("WITH base AS (SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty, count(*) AS n_rows FROM lineitem GROUP BY 1, 2), " +
        "tgt AS (SELECT *, 1 AS tf FROM base WHERE l_orderkey < 5000), " +
        "src AS (SELECT l_orderkey, l_linenumber, qty * 2 AS qty, n_rows, 1 AS sf FROM base WHERE l_orderkey BETWEEN 2500 AND 7500) " +
        "SELECT COALESCE(t.l_orderkey, s.l_orderkey) AS l_orderkey, " +
        "COALESCE(t.l_linenumber, s.l_linenumber) AS l_linenumber, " +
        "CASE WHEN s.sf IS NOT NULL THEN s.qty ELSE t.qty END AS qty, " +
        "CASE WHEN t.tf IS NOT NULL THEN t.n_rows ELSE s.n_rows END AS n_rows, " +
        "CASE WHEN t.tf IS NOT NULL AND s.sf IS NOT NULL THEN 'updated' WHEN s.sf IS NOT NULL THEN 'inserted' ELSE 'kept' END AS row_status " +
        "FROM tgt t FULL OUTER JOIN src s ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber")),
    Gate("merge_partitioned_delta", (s, d) => {
      // the 100 TB fact-merge path, end to end: orders laid out
      // date-partitioned by month (~80 partitions); the delta restates
      // the last 3 months (price ×2) and inserts one new row per
      // restated order (negated key, same month). The partition-scoped
      // merge reads and rewrites ONLY those ~3 partitions — I/O is
      // delta-footprint-sized, not table-sized. The base layout is
      // cached under target/ keyed by the content of whole rows (`*`:
      // restated prices under unchanged keys are new content), so
      // repeated bench passes time the delta merge (the
      // regression-sensitive path), not the initial load; re-merging
      // the same delta is idempotent (updates restate to the same
      // values, inserts become same-value matches), keeping every pass
      // bit-identical.
      val orders = rd(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val withMonth = orders
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      val (dir, tbl) = Artifacts.table(s, d, "orders_fact", orders, "*",
        graft.sources.Warehouse.overwriteLayout(_, _, _, "o_month"))(_ => withMonth)
      val upd = withMonth
        .filter(col("o_orderdate") >= tlit("2001-06-01 00:00:00"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val delta = upd.unionByName(upd.withColumn("o_orderkey", -col("o_orderkey")))
      Merge.scd1PartitionScoped(s, dir, tbl, "o_month", delta,
        MergeSpec(Seq("o_orderkey"), Seq("o_totalprice")), tlit(tsNow))
      graft.sources.Warehouse.read(s, dir, tbl)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    },
      ("WITH upd AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00') " +
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '2001-06-01 00:00:00' " +
        "UNION ALL SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, o_orderdate FROM upd " +
        "UNION ALL SELECT -o_orderkey AS o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, o_orderdate FROM upd")),
    Gate("merge_delta_mor", (s, d) => {
      // merge-on-read: three keyed upsert batches land as COMPACT
      // delta appends (write I/O = O(touched keys); the base is read,
      // never rewritten — the fix for "a 10-row correction rewrites
      // its whole partition"), batch 2 crash-replays under the same id
      // and is skipped by the manifest stamp, and the reconciled read
      // view must hash-match the oracle's eager last-writer-wins chain
      morFold(s, d, compactAfterBatch2 = false)
    },
      // both MoR gates reconcile to the same eager last-writer-wins chain
      morOracleSql),
    Gate("merge_delta_compact", (s, d) => {
      // the same chain with a compaction folded in after batch 2: the
      // delta files collapse into base generation 2, batch 3 appends
      // onto the fresh chain, and the view is IDENTICAL — compaction
      // is invisible to readers, proven against the same oracle
      morFold(s, d, compactAfterBatch2 = true)
    },
      morOracleSql),
    Gate("merge_delta_deletes", (s, d) => {
      // tombstone deletes in the MoR chain: batch 2 deletes k%500==3
      // as an O(deleted keys) tombstone delta (replayed — skipped),
      // batch 3 RE-INSERTS the k%1000==3 subset with fresh values —
      // the view must show the resurrection, not the tombstone, and
      // every other deleted key stays gone
      morDeleteFold(s, d)
    },
      morDeleteOracleSql),
    Gate("merge_bloom_delete_safety", (s, d) => {
      // delete-safety proof for the Bloom-indexed MoR table: tombstone
      // deletes leave the per-file bloom bits STALE — safe (the filter
      // over-approximates: extra file opens, never a missed key) but
      // previously unproven. Built once per content epoch with in-gate
      // requires: (1) post-delete the deleted keys still bloom-candidate
      // into >0 base files while the VIEW returns none of them; (2)
      // compaction folds the tombstones into a new base generation and
      // REFRESHES the bloom manifest from the survivors — the same
      // probe's candidate file set shrinks to zero, the tracked read
      // footprint with it. Output = the post-compact view, hash-checked
      // against the closed-form oracle.
      import graft.sources.MergeOnRead
      val ord = rd(s, d, "orders")
      val src = ord.select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      val spec = MergeSpec(Seq("k"), Seq("cents"))
      val (dir, tbl) = Artifacts.fold(s, d, s"morbloomdel_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
        def bloomFiles(keys: DataFrame): Seq[String] = {
          val m = MergeOnRead.manifest(s, dir, tbl)
          MergeOnRead.bloomCandidateFiles(
            s.read.parquet(s"$dir/$tbl.morbloom/${m.baseGen}"),
            keys, "k", m.bloomBits, m.bloomHashes)
        }
        if (!MergeOnRead.exists(s, dir, tbl)) {
          MergeOnRead.init(
            src.select(col("k"), col("cents0").as("cents")).repartition(16, col("k")),
            dir, tbl, Seq("k"), bloomBits = 1 << 20, bloomHashes = 4)
          MergeOnRead.deltaMerge(s, dir, tbl,
            src.where(col("k") % 700 === 3)
              .select(col("k"), (col("cents0") + 55L).as("cents")),
            spec, tlit(tsNow), batchId = 1L)
          val deadKeys = src.where(col("k") % 500 === 3).select("k")
          MergeOnRead.deltaDelete(s, dir, tbl, deadKeys, batchId = 2L)
          val staleFiles = bloomFiles(deadKeys)
          require(staleFiles.nonEmpty,
            "tombstones must leave the bloom bits stale (over-approximate), not torn")
          require(MergeOnRead.readView(s, dir, tbl)
            .join(deadKeys, Seq("k"), "left_semi").isEmpty,
            "deleted keys must not survive in the view despite stale bloom bits")
          val genBefore = MergeOnRead.manifest(s, dir, tbl).baseGen
          MergeOnRead.compact(s, dir, tbl)
          require(MergeOnRead.manifest(s, dir, tbl).baseGen > genBefore,
            "compaction must fold the tombstone chain into a new base generation")
          val postFiles = bloomFiles(deadKeys)
          require(postFiles.size < staleFiles.size && postFiles.isEmpty,
            s"the refreshed bloom manifest must clear the deleted keys' bits " +
              s"(pre ${staleFiles.size} files, post ${postFiles.size})")
        }
      }
      MergeOnRead.readView(s, dir, tbl)
    },
      // closed-form post-compact state of the bloom delete chain: the
      // upsert applied, the tombstoned keys gone
      ("WITH src AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders) " +
        "SELECT k, CASE WHEN k % 700 = 3 THEN cents0 + 55 ELSE cents0 END AS cents " +
        "FROM src WHERE k % 500 <> 3")),
    Gate("merge_delta_minor_compact", (s, d) => {
      // MINOR compaction mid-chain: the two deltas fold into ONE chain
      // element (latest image per key, stamps preserved) without the
      // base being read or rewritten — the read fan-in cap a streaming
      // writer needs; batch 3 appends onto the folded chain and the
      // view matches the same eager oracle (fold invisible to readers)
      morFold(s, d, compactAfterBatch2 = true, minor = true)
    },
      morOracleSql),
    Gate("merge_delta_mor_part", (s, d) => {
      // PARTITION-SCOPED merge-on-read: the same upsert chain on a
      // table partitioned by order month — delta rows route to their
      // partition, the manifest maps each partition to the generation
      // holding its live copy, and compaction folds only dirty
      // partitions (spec/bench carry the scale evidence; this gate
      // proves the bookkeeping is invisible: same eager oracle)
      morPartFold(s, d, compactAfterBatch2 = false)
    },
      // the partition-scoped chain reconciles to the same eager result
      // (month column along); compaction bookkeeping must be invisible
      morPartOracleSql),
    Gate("merge_delta_compact_part", (s, d) => {
      // the partitioned chain with a mid-chain compaction folded in:
      // dirty partitions move to generation 2, clean ones stay in
      // generation 1, and the reconciled view is IDENTICAL
      morPartFold(s, d, compactAfterBatch2 = true)
    },
      morPartOracleSql),
    Gate("stream_mor_replay", (s, d) => {
      // the streaming MoR upsert path, batch-replayed: foreachBatch
      // body = dedup-to-last-image + stamped deltaMerge + metadata-only
      // compaction check; batch 2 crash-replays poisoned and must be
      // skipped; the view equals the one-pass oracle
      morStreamFold(s, d)
    },
      // streaming foreachBatch fold: dedup-to-last-image + stamp + compact
      // == one-pass last-writer-wins over the batches
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) + o_orderkey % 4 AS cents " +
        "FROM orders")),
    Gate("stream_pointer_replay", (s, d) => {
      // the POINTER-committed streaming upsert, batch-replayed: the
      // pointer line carries the batch STAMP, so a crash replay no-ops
      // even when its recomputed content DIFFERS (nondeterministic
      // upstream — the poisoned-replay case): batch 2 is replayed with
      // a corrupted payload (+999 cents) and the skip must leave the
      // read-through-pointer table equal to the one-pass oracle; a
      // whole-fold re-run in a later JVM no-ops the same way
      // (batch ids ≤ the recorded stamp)
      import graft.sources.Warehouse
      val ord = rd(s, d, "orders")
      val src = ord.select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      val spec = MergeSpec(Seq("k"), Seq("cents"))
      val (dir, tbl) = Artifacts.fold(s, d, s"ptr_stream_v2_${contentEpoch(ord, "o_orderkey")}") { (dir, tbl) =>
        def batch(i: Int): DataFrame =
          src.where(col("k") % 4 === i)
            .select(col("k"), (col("cents0") + 2L * i).as("cents"))
        (0 until 4).foreach { i =>
          graft.streaming.Streams.foldUpsertPointerBatch(
            batch(i), dir, tbl, spec, tlit(tsNow), batchId = i.toLong)
          if (i == 2) {
            // poisoned crash replay: same batch id, DIFFERENT content —
            // the stamp must skip it (merge idempotence alone would
            // silently double-apply the corruption)
            val applied = graft.streaming.Streams.foldUpsertPointerBatch(
              batch(i).withColumn("cents", col("cents") + 999L),
              dir, tbl, spec, tlit(tsNow), batchId = i.toLong)
            require(!applied, "stamped pointer fold re-applied a replayed batch")
          }
        }
      }
      Warehouse.Pointer.read(s, dir, tbl).select("k", "cents")
    },
      // pointer-committed foreachBatch fold, one batch replayed verbatim:
      // merge idempotence makes the recommit a content no-op, so the
      // final table is the one-pass per-batch assignment
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) + 2 * (o_orderkey % 4) AS cents " +
        "FROM orders")),
    Gate("merge_delta_changes_part", (s, d) => {
      // the PARTITIONED chain consumed as a change feed: net per-key
      // change after batch 1, month column along — same chain-sized
      // cost contract as the flat feed
      val (dir, tbl) = morPartTable(s, d, compactAfterBatch2 = false)
      graft.sources.MergeOnRead.changesSince(s, dir, tbl, sinceBatch = 1L)
    },
      // net per-key change after batch 1 of the partitioned chain: the
      // batch-2 inserts and U2 updates unless batch 3's U3 superseded
      ("WITH src AS (SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m') AS m, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
        "stacked AS (" +
        "SELECT k, m, 'N' AS status, cents0 AS cents, 2 AS seq FROM src WHERE k % 1000 = 7 " +
        "UNION ALL SELECT k, m, 'U2', cents0 + 22, 2 FROM src WHERE k % 200 = 3 " +
        "UNION ALL SELECT k, m, 'U3', cents0 + 33, 3 FROM src WHERE k % 400 = 3) " +
        "SELECT k, m, status, cents, 'upsert' AS change FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY k ORDER BY seq DESC) AS rn FROM stacked) WHERE rn = 1")),
    Gate("merge_delta_schema_add", (s, d) => {
      // SCHEMA EVOLUTION mid-chain: two columns added metadata-only
      // between batches; old base rows and pre-evolve delta images
      // read NULL-backfilled, later merges populate the columns —
      // proven against the eager oracle with NULLs stacked in
      val (dir, tbl) = morSchemaTable(s, d)
      graft.sources.MergeOnRead.readView(s, dir, tbl)
    },
      morSchemaOracleSql),
    Gate("incr_agg_from_feed", (s, d) => {
      // true IVM over CDC: a derived (status -> n, sum cents) aggregate
      // maintained from the change feed WITH PRE-IMAGES — retract each
      // changed key's old contribution, apply the new one — must equal
      // the rebuild from the current view. Deletes retract-only;
      // inserts apply-only; updates do both. Cost is feed-sized.
      import graft.sources.MergeOnRead
      val (dir, tbl) = morDeleteTable(s, d)
      val src = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status0"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      val base = src.where(col("k") % 1000 =!= 7).select(col("k"),
        col("status0").as("status"), col("cents0").as("cents"))
      val b1 = src.where(col("k") % 100 === 3).select(col("k"),
        lit("U1").as("status"), (col("cents0") + 11).as("cents"))
      val snapshot = Merge.scd1(base, b1,
        MergeSpec(Seq("k"), Seq("status", "cents")), tlit(tsNow))
      val agg1 = snapshot.groupBy("status")
        .agg(count(lit(1)).as("dn"), sum("cents").as("dc"))
        .select(col("status"), col("dn"), col("dc"))
      val feed = MergeOnRead.changesWithPreImage(s, dir, tbl, sinceBatch = 1L)
      val retract = feed.where(col("pre_status").isNotNull)
        .select(col("pre_status").as("status"),
          lit(-1L).as("dn"), (-col("pre_cents")).as("dc"))
      val apply = feed.where(col("change") === "upsert")
        .select(col("status"), lit(1L).as("dn"), col("cents").as("dc"))
      agg1.unionByName(retract).unionByName(apply)
        .groupBy("status")
        .agg(sum("dn").as("n"), sum("dc").as("sum_cents"))
        .where(col("n") > 0)
    },
      // retract-and-apply from the pre-imaged feed == rebuild from the view
      (s"SELECT status, CAST(count(*) AS BIGINT) AS n, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents " +
        s"FROM ($morDeleteOracleSql) GROUP BY 1")),
    Gate("merge_delta_apply_changes", (s, d) => {
      // the CDC-consumer contract end-to-end: a replica bootstrapped at
      // batch 1 (re-derived eagerly here) + applyChanges(changesSince(1))
      // must equal the CURRENT read view — deletes drop, resurrections
      // and inserts land, all at chain-sized cost
      import graft.sources.MergeOnRead
      val (dir, tbl) = morDeleteTable(s, d)
      val src = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status0"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      val base = src.where(col("k") % 1000 =!= 7).select(col("k"),
        col("status0").as("status"), col("cents0").as("cents"))
      val b1 = src.where(col("k") % 100 === 3).select(col("k"),
        lit("U1").as("status"), (col("cents0") + 11).as("cents"))
      val snapshot = Merge.scd1(base, b1,
        MergeSpec(Seq("k"), Seq("status", "cents")), tlit(tsNow))
        .select("k", "status", "cents")
      MergeOnRead.applyChanges(snapshot,
        MergeOnRead.changesSince(s, dir, tbl, sinceBatch = 1L), Seq("k"))
    },
      // snapshot@batch1 + applyChanges(changesSince(1)) == the current view
      morDeleteOracleSql),
    Gate("merge_delta_changes", (s, d) => {
      // the delta chain consumed as a CHANGE FEED: net change per key
      // produced after batch 1 — deletes surface as tombstone rows, a
      // delete-then-reinsert surfaces as its final upsert, keys whose
      // last touch was batch 1 don't appear. Cost is chain-sized; the
      // base is never read beyond its schema
      val (dir, tbl) = morDeleteTable(s, d)
      graft.sources.MergeOnRead.changesSince(s, dir, tbl, sinceBatch = 1L)
    },
      // net change per key across batches 2..3 of the delete chain:
      // rn=1 over seq picks the final state; del rows surface as
      // tombstones with NULL payload
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents0 FROM orders), " +
        "ch AS (" +
        "SELECT k, CAST(NULL AS VARCHAR) AS status, CAST(NULL AS BIGINT) AS cents, 2 AS seq, 1 AS del " +
        "FROM src WHERE k % 500 = 3 " +
        "UNION ALL SELECT k, 'R', cents0 + 77, 3, 0 FROM src WHERE k % 1000 = 3) " +
        "SELECT k, status, cents, CASE WHEN del = 1 THEN 'delete' ELSE 'upsert' END AS change " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch) " +
        "WHERE rn = 1")),

    // —— aggregation / window headline queries ——
    Gate("q6_filter_agg", (s, d) =>
      rd(s, d, "lineitem")
        .filter(col("l_shipdate").between(
          tlit("1997-01-01 00:00:00"), tlit("1998-12-31 23:59:59")))
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue")),
      ("SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue FROM lineitem " +
        "WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1998-12-31 23:59:59' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),
    Gate("q1_agg", (s, d) =>
      rd(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order")),
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, " +
        "round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus")),
    Gate("q3_seg_revenue", (s, d) => {
      val c = rd(s, d, "customer")
      val o = rd(s, d, "orders")
      val l = rd(s, d, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    },
      ("SELECT c_mktsegment, count(DISTINCT o.o_orderkey) AS n_orders, " +
        "round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey GROUP BY c_mktsegment")),
    Gate("q_supplier_part", (s, d) => {
      // 3-way fact x dim x dim join with tax-inclusive charge computed in
      // exact integer cents (price, discount, and tax are 2-decimal
      // values; their product lives on a 1e-6 grid that exceeds double
      // precision once summed over a large fact — integers never drift)
      val l = rd(s, d, "lineitem")
      val su = rd(s, d, "supplier")
      val p = rd(s, d, "part")
      val cents = (c: Column) => round(c * 100).cast("long")
      l.join(su, col("l_suppkey") === col("s_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .where(col("p_size") >= 10)
        .groupBy("p_type")
        .agg(
          count(lit(1)).as("n_lines"),
          countDistinct(col("p_name")).as("n_part_names"),
          countDistinct(col("s_name")).as("n_suppliers"),
          // per-row product fits a long (~1e11); the SUM is carried in
          // decimal(38,0) so it cannot wrap at any scale factor (a long
          // sum would silently overflow around 1e8 rows of this grid)
          // emitted as a STRING of digits: decimal carries the exact sum,
          // but decimal surfaces differently across parquet readers
          // (python Decimal vs float64) and breaks the driver's hash
          sum((cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount"))) *
            (lit(100L) + cents(col("l_tax")))).cast("decimal(38,0)"))
            .cast("string").as("charged_e6"),
          // min/max taken over integer cents, not raw doubles: round(x*100)
          // is monotone on the 0.01 grid so the same element is picked,
          // and an integer column cannot fall into engine-specific float
          // formatting in the driver's row hasher (the round-2 gate
          // flagged this query on a float cell that string-compares equal)
          min(cents(col("s_acctbal"))).as("min_acctbal_c"),
          max(cents(col("p_retailprice"))).as("max_retail_c"))
    },
      ("SELECT p_type, count(*) AS n_lines, count(DISTINCT p_name) AS n_part_names, " +
        "count(DISTINCT s_name) AS n_suppliers, " +
        "CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) * " +
        "(100 + CAST(round(l_tax * 100) AS BIGINT))) AS DECIMAL(38,0)) AS VARCHAR) AS charged_e6, " +
        "min(CAST(round(s_acctbal * 100) AS BIGINT)) AS min_acctbal_c, " +
        "max(CAST(round(p_retailprice * 100) AS BIGINT)) AS max_retail_c " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN part ON l_partkey = p_partkey WHERE p_size >= 10 GROUP BY p_type")),
    Gate("q_part_brand", (s, d) => {
      val p = rd(s, d, "part")
      val l = rd(s, d, "lineitem")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_lines"),
          sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    },
      ("SELECT p_brand, count(*) AS n_lines, sum(l_quantity) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand")),
    Gate("w1_topn_per_group", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      rd(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    },
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t WHERE rn = 1")),
    Gate("q_rollup", (s, d) =>
      rd(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n")),
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)")),
    Gate("q_cube", (s, d) =>
      rd(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n")),
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)")),
    Gate("q_order_limit", (s, d) =>
      rd(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice"),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    Gate("q_cond_agg", (s, d) =>
      rd(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p")),
      ("SELECT o_orderpriority, count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f, " +
        "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o, " +
        "count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p FROM orders GROUP BY o_orderpriority")),
    Gate("w2_running_sum", (s, d) => Events.runningSum(rd(s, d, "events")),
      ("SELECT user_id, event_id, ts, round(sum(value) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2) AS running_value FROM events")),
    Gate("w3_range_frame", (s, d) => {
      // event-time RANGE frame (not ROWS): trailing 2-hour window per
      // user on the microsecond axis; count/min/max are order-free so
      // the frame contents hash identically in both engines
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-7200000000L, Window.currentRow)
      rd(s, d, "events").select(
        col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_2h"),
        min(col("value")).over(w).as("min_2h"),
        max(col("value")).over(w).as("max_2h"))
    },
      ("SELECT user_id, event_id, ts, count(*) OVER w AS n_2h, " +
        "min(value) OVER w AS min_2h, max(value) OVER w AS max_2h FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)")),
    Gate("w4_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      rd(s, d, "events").select(
        col("user_id"), col("event_id"), col("ts"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        first(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("first_value"))
    },
      ("SELECT user_id, event_id, ts, " +
        "lag(value, 1) OVER w AS prev_value, lead(value, 1) OVER w AS next_value, " +
        "first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS first_value FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)")),
    Gate("q_unpivot", (s, d) => {
      // real relational unpivot (melt) — q_pivot's inverse: per-flag
      // exact integer sums of three measures widen to rows
      // (metric, value_c); the Dataset unpivot operator, not a
      // hand-rolled union
      val l = rd(s, d, "lineitem")
      val cents = (c: Column) => round(c * 100).cast("long")
      l.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("long") * 100).as("qty_c"),
          sum(cents(col("l_extendedprice"))).as("price_c"),
          sum(cents(col("l_tax")) * 100).as("tax_c"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty_c"), col("price_c"), col("tax_c")),
          "metric", "value_c")
    },
      ("WITH a AS (SELECT l_returnflag, " +
        "CAST(sum(CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS qty_c, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c, " +
        "CAST(sum(CAST(round(l_tax * 100) AS BIGINT) * 100) AS BIGINT) AS tax_c " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, 'qty_c' AS metric, qty_c AS value_c FROM a " +
        "UNION ALL SELECT l_returnflag, 'price_c', price_c FROM a " +
        "UNION ALL SELECT l_returnflag, 'tax_c', tax_c FROM a")),
    Gate("q_pivot", (s, d) =>
      // real relational pivot (groupBy().pivot()) — status columns out
      // of rows; explicit value list so the plan is a single pass
      rd(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"), coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"), coalesce(col("P"), lit(0L)).as("n_p")),
      ("SELECT o_orderpriority, count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f, " +
        "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o, " +
        "count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p FROM orders GROUP BY o_orderpriority")),
    Gate("text_zipf_slope", (s, d) =>
      // vocabulary health: ln-frequency on ln-rank least squares over
      // each source's top-64 tokens — natural text sits near -1,
      // templated feeds come out shallow, degenerate repetition steep
      graft.operators.TextAnalysis.zipfSlope(rd(s, d, "documents"), topK = 64),
      ("WITH c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents) t " +
        "WHERE token <> '' GROUP BY 1, 2), " +
        "r AS (SELECT source, n, row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rank FROM c), " +
        "xy AS (SELECT source, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM r WHERE rank <= 64), " +
        "m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_points, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy FROM xy GROUP BY 1) " +
        "SELECT source, n_points, " +
        "CASE WHEN (n_points * sxx - sx * sx) <> 0 THEN (n_points * sxy - sx * sy) / (n_points * sxx - sx * sx) END AS slope, " +
        "CASE WHEN (n_points * sxx - sx * sx) <> 0 THEN (sy - ((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx)) * sx) / n_points END AS intercept, " +
        "CASE WHEN (n_points * sxx - sx * sx) <> 0 AND (n_points * syy - sy * sy) <> 0 THEN " +
        "((n_points * sxy - sx * sy) * (n_points * sxy - sx * sy)) / ((n_points * sxx - sx * sx) * (n_points * syy - sy * sy)) END AS r2 " +
        "FROM m")),
    Gate("text_top_tokens", (s, d) =>
      // explode/lateral-view shape: corpus-wide token frequencies,
      // deterministic top-25 (count desc, token asc)
      rd(s, d, "documents")
        .select(explode(graft.functions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(25),
      ("SELECT token, n FROM (SELECT token, count(*) AS n FROM " +
        "(SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents) t " +
        "WHERE token <> '' GROUP BY token) g ORDER BY n DESC, token LIMIT 25")),
    Gate("search_phrase", (s, d) =>
      // exact phrase search via the positional inverted index; the
      // oracle re-finds the phrase by a direct token-array scan, so the
      // green row is an independent check of the index path
      Search.phraseSearchDocs(rd(s, d, "documents"), searchPhrase),
      OracleSql.phraseSearch(searchPhrase)),
    Gate("search_bm25_topk", (s, d) =>
      // BM25 ranked retrieval, integer-exact (RSJ odds term weight);
      // the 'dup' query term is the corpus's one rare token, so the
      // df weighting visibly reorders against raw tf
      Search.bm25TopK(rd(s, d, "documents"), bm25Queries, k = 10),
      OracleSql.bm25TopK(bm25Queries, k = 10)),
    Gate("search_bm25_indexed", (s, d) =>
      // the serving path: BM25 off the positional inverted index — same
      // oracle SQL as search_bm25_topk because the output is identical
      // by construction (the green row proves index == corpus)
      Search.bm25TopKFromIndex(
        Search.invertedIndex(rd(s, d, "documents")), bm25Queries, k = 10),
      OracleSql.bm25TopK(bm25Queries, k = 10)),
    Gate("search_ndcg", (s, d) =>
      // ranking-quality eval for the lexical path: NDCG@10 of the BM25
      // order against term-overlap relevance grades, with ppm-integer
      // DCG terms so the result replays bit-for-bit
      Search.ndcgAtK(rd(s, d, "documents"), bm25Queries, k = 10),
      OracleSql.ndcgAtK(bm25Queries, k = 10)),
    Gate("search_bm25_deleted", (s, d) => {
      // the revocation path: every 7th doc is taken down by a broadcast
      // anti-join over the index (no re-tokenization); serving from the
      // pruned index matches a fresh index of the surviving corpus —
      // the oracle tokenizes only docs with doc_id % 7 <> 0
      val docs = rd(s, d, "documents")
      val revoked = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      Search.bm25TopKFromIndex(
        Search.deleteFromInvertedIndex(
          Search.invertedIndex(docs), revoked), bm25Queries, k = 10)
    },
      OracleSql.bm25TopK(bm25Queries, k = 10, docWhere = "doc_id % 7 <> 0")),
    Gate("search_hybrid_rrf", (s, d) => {
      // hybrid retrieval: BM25 relevance fused with a static quality
      // prior (doc length) by reciprocal-rank fusion — rank-based, so
      // the two score scales never meet
      import s.implicits._
      val docs = rd(s, d, "documents")
      val bm = Search.bm25TopK(docs, bm25Queries, k = 20)
      val pr20 = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .select("doc_id", "rk")
      val prior = bm25Queries.map(_._1).toDF("query_id").crossJoin(pr20)
      Search.rrfFuse(bm, prior, k = 10)
    },
      OracleSql.searchHybridRrf(bm25Queries, kIn = 20, k = 10, kRrf = 60)),
    Gate("text_winnow_fp", (s, d) =>
      // MOSS winnowing: rightmost-min fingerprint selection over k=4
      // token grams, window w=4 — the full selected set is gated
      Dedup.winnowFingerprints(rd(s, d, "documents"), k = 4, w = 4)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("fp")),
      OracleSql.textWinnowFp(k = 4, w = 4)),
    Gate("dedup_winnow_pairs", (s, d) =>
      Dedup.winnowPairs(rd(s, d, "documents"), k = 4, w = 4, minShared = 2),
      OracleSql.dedupWinnowPairs(k = 4, w = 4, minShared = 2)),

    // —— windowed event aggregations (batch analog of streaming) ——
    Gate("dq_rate_spikes", (s, d) =>
      // feed-monitoring alarm: hourly counts vs the trailing-24h mean,
      // spike = count > 1.5x mean, cross-multiplied exact integers
      Events.rateSpikes(rd(s, d, "events")),
      ("WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS epoch_hour, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, epoch_hour, n, " +
        "CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS trail_sum, " +
        "count(n) OVER tw AS trail_cnt FROM h " +
        "WINDOW tw AS (PARTITION BY event_type ORDER BY epoch_hour " +
        "RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_type, epoch_hour, n, trail_sum, trail_cnt, " +
        "CAST(trail_cnt > 0 AND n * trail_cnt * 2 > trail_sum * 3 AS INT) AS is_spike FROM w")),
    Gate("e1_tumbling", (s, d) => Events.tumblingHourly(rd(s, d, "events")),
      ("SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2")),
    Gate("e2_sliding", (s, d) => Events.slidingHourly(rd(s, d, "events")),
      ("SELECT w_start, count(*) AS n_events, round(sum(value), 2) AS sum_value FROM (" +
        "SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS w_start, value FROM events " +
        "UNION ALL " +
        "SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000) AS w_start, value FROM events) u " +
        "GROUP BY w_start")),
    Gate("e3_session", (s, d) => Events.sessionize(rd(s, d, "events")),
      ("WITH o AS (SELECT user_id, event_id, ts, value, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT user_id, ts, value, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM o) " +
        "SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, round(sum(value), 2) AS sum_value FROM s GROUP BY user_id, session_id")),
    Gate("e5_gap_fill", (s, d) => Events.gapFillHourly(rd(s, d, "events")),
      ("WITH b AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1 FROM events GROUP BY user_id), " +
        "g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts FROM b) " +
        "SELECT g.user_id, g.ts, r.event_id AS src_event_id, r.value AS carried_value, r.ts AS matched_ts " +
        "FROM g LEFT JOIN events r ON r.user_id = g.user_id AND r.ts <= g.ts " +
        "QUALIFY row_number() OVER (PARTITION BY g.user_id, g.ts ORDER BY r.ts DESC, r.event_id DESC) = 1")),
    Gate("seq_interpolate", (s, d) => {
      // linear interpolation onto the dense calendar: daily purchase
      // revenue observed only every third day-of-month (forced gaps),
      // missing days filled by exact integer interpolation with the
      // sign-split division (Spark div truncates, DuckDB // floors —
      // they agree only on non-negatives)
      val ev = rd(s, d, "events")
      val sparse = ev.where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("rev_c"))
        .where(dayofmonth(col("day")) % 3 === 0)
      Events.interpolateDaily(sparse, "day", "rev_c")
    },
      ("WITH sparse AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1 " +
        "HAVING dayofmonth(CAST(ts AS DATE)) % 3 = 0), " +
        "nx AS (SELECT day AS d0, rev_c AS v0, " +
        "lead(day) OVER (ORDER BY day) AS d1, lead(rev_c) OVER (ORDER BY day) AS v1 FROM sparse), " +
        "seg AS (SELECT d0, v0, d1, v1, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), " +
        "CAST(d1 AS TIMESTAMP) - INTERVAL 1 DAY, INTERVAL 1 DAY)) AS DATE) AS day " +
        "FROM nx WHERE d1 IS NOT NULL), " +
        "it AS (SELECT day, v0 + (CASE WHEN (v1 - v0) * (day - d0) >= 0 " +
        "THEN ((v1 - v0) * (day - d0)) // (d1 - d0) " +
        "ELSE -((-((v1 - v0) * (day - d0))) // (d1 - d0)) END) AS rev_c, " +
        "CASE WHEN day = d0 THEN 1 ELSE 0 END AS observed FROM seg " +
        "UNION ALL SELECT d0, v0, 1 FROM nx WHERE d1 IS NULL) " +
        "SELECT day, rev_c, CAST(observed AS INT) AS observed FROM it")),
    Gate("seq_transitions", (s, d) =>
      // first-order Markov transition matrix with exact-integer
      // conditional frequencies
      Events.transitionCounts(rd(s, d, "events")),
      ("WITH seq AS (SELECT event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "c AS (SELECT prev_type, event_type AS next_type, count(*) AS n FROM seq " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, next_type, n, " +
        "CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_ppm FROM c")),
    Gate("events_funnel", (s, d) =>
      // ordered conversion funnel: earliest view -> first click AFTER
      // it -> first purchase after that, per user; stage tables shrink
      // monotonically, no window over raw events
      Events.funnel(rd(s, d, "events"), Seq("view", "click", "purchase")),
      ("WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t_view " +
        "WHERE e.event_type = 'click' GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t_click " +
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT s1.user_id, t_view, t_click, t_purchase FROM s1 " +
        "LEFT JOIN s2 ON s1.user_id = s2.user_id LEFT JOIN s3 ON s1.user_id = s3.user_id")),
    Gate("events_retention", (s, d) =>
      // weekly retention matrix: cohort = ISO week of first event,
      // distinct active users per week offset — exact integer matrix
      Events.retentionCohorts(rd(s, d, "events")),
      ("WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id), " +
        "c AS (SELECT user_id, CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week, " +
        "CAST(first_ts AS DATE) AS first_d FROM f), " +
        "a AS (SELECT DISTINCT e.user_id, c.cohort_week, " +
        "CAST((CAST(e.ts AS DATE) - c.first_d) // 7 AS BIGINT) AS week_offset " +
        "FROM events e JOIN c ON e.user_id = c.user_id) " +
        "SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users " +
        "FROM a GROUP BY 1, 2")),
    Gate("q_hierarchy_rollup", (s, d) => {
      // recursive-CTE semantics on Spark (which has no WITH RECURSIVE):
      // a dense 8-ary heap hierarchy over the orderkeys (rank r's
      // parent is r div 8 — parent always exists, depth ~ log8 n, the
      // fan-out of a realistic category/org tree),
      // transitively closed by iterated frontier joins; per node the
      // depth to root, descendant count and subtree revenue — the
      // BOM-explosion / org-rollup shape, oracled by DuckDB's NATIVE
      // recursion (a genuinely independent engine for the semantics)
      val o = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      // persisted: the ranked spine feeds the edge table, the delta
      // predicates, the rollup join and the final projection — without
      // the cache every reference re-runs the global rank sort (the
      // round-12 4,106-line plan re-derived it ~168 times)
      val dd = graft.operators.Caches.persisted(
        o.withColumn("r", row_number().over(w).cast("long")))
      val edges = dd.where(col("r") >= 2)
        .select(col("r").as("child"), expr("greatest(r div 8, 1)").as("parent"))
      val closure = graft.operators.Caches.persisted(
        graft.operators.Graph.ancestorClosure(edges, dd.select(col("r"))))
      val depths = closure.groupBy(col("node")).agg(max("depth").as("depth"))
      val sub = closure
        .join(dd.select(col("r").as("node"), col("cents")), "node")
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum("cents").as("subtree_cents"))
      dd.select(col("k"), col("r"))
        .join(depths.withColumnRenamed("node", "r"), "r")
        .join(sub.withColumnRenamed("anc", "r"), "r")
        .select(col("k"), col("depth"), col("n_desc"), col("subtree_cents"))
    },
      // DuckDB's native WITH RECURSIVE — an independent recursion engine
      // — replays the closure, depths and subtree aggregates
      ("WITH RECURSIVE o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "dd AS (SELECT k, cents, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS r FROM o), " +
        "e AS (SELECT r AS child, greatest(r // 8, 1) AS parent FROM dd WHERE r >= 2), " +
        "anc AS (SELECT r AS node, r AS anc, CAST(0 AS BIGINT) AS depth FROM dd " +
        "UNION ALL SELECT a.node, e.parent, a.depth + 1 FROM anc a JOIN e ON e.child = a.anc), " +
        "dep AS (SELECT node, max(depth) AS depth FROM anc GROUP BY 1), " +
        "sub AS (SELECT anc, CAST(count(*) AS BIGINT) AS n_desc, CAST(sum(dd.cents) AS BIGINT) AS subtree_cents " +
        "FROM anc JOIN dd ON dd.r = anc.node GROUP BY 1) " +
        "SELECT dd.k, dep.depth, sub.n_desc, sub.subtree_cents " +
        "FROM dd JOIN dep ON dep.node = dd.r JOIN sub ON sub.anc = dd.r")),
    Gate("incr_hierarchy_maintain", (s, d) => {
      // O(delta) closure maintenance under subtree inserts: ranks past
      // the cut attach (with internal chains) beneath the existing
      // tree; the delta's closure composes with the MATERIALIZED base
      // closure by one keyed join, old rows reused verbatim — and the
      // rollup off the maintained closure equals the full rebuild
      // oracle exactly
      val o = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      // persisted: the ranked spine feeds the edge table, the delta
      // predicates, the rollup join and the final projection — without
      // the cache every reference re-runs the global rank sort (the
      // round-12 4,106-line plan re-derived it ~168 times)
      val dd = graft.operators.Caches.persisted(
        o.withColumn("r", row_number().over(w).cast("long")))
      val edges = dd.where(col("r") >= 2)
        .select(col("r").as("child"), expr("greatest(r div 8, 1)").as("parent"))
      val cutExpr = dd.agg((max("r") * 22 / 25).cast("long")).head().getLong(0)
      // yesterday's closure is MATERIALIZED (the maintenance premise):
      // built once per content epoch under target/, read back here —
      // the timed work is the delta composition, not the base rebuild
      val (whDir, baseTbl) = Artifacts.table(s, d, "closure_base", o, "k")(_ =>
        graft.operators.Graph.ancestorClosure(
          edges.where(col("child") <= cutExpr),
          dd.where(col("r") <= cutExpr).select(col("r"))))
      val base = graft.sources.Warehouse.read(s, whDir, baseTbl)
      // persisted: the depth and subtree aggregates both scan it
      val maint = graft.operators.Caches.persisted(
        graft.operators.Graph.extendAncestorClosure(base,
          edges.where(col("child") > cutExpr),
          dd.where(col("r") > cutExpr).select(col("r"))))
      val depths = maint.groupBy(col("node")).agg(max("depth").as("depth"))
      val sub = maint
        .join(dd.select(col("r").as("node"), col("cents")), "node")
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum("cents").as("subtree_cents"))
      dd.select(col("k"), col("r"))
        .join(depths.withColumnRenamed("node", "r"), "r")
        .join(sub.withColumnRenamed("anc", "r"), "r")
        .select(col("k"), col("depth"), col("n_desc"), col("subtree_cents"))
    },
      // maintain == rebuild: the same full recursive-rollup oracle gates
      // the closure maintained from the base + delta composition
      ("WITH RECURSIVE o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "dd AS (SELECT k, cents, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS r FROM o), " +
        "e AS (SELECT r AS child, greatest(r // 8, 1) AS parent FROM dd WHERE r >= 2), " +
        "anc AS (SELECT r AS node, r AS anc, CAST(0 AS BIGINT) AS depth FROM dd " +
        "UNION ALL SELECT a.node, e.parent, a.depth + 1 FROM anc a JOIN e ON e.child = a.anc), " +
        "dep AS (SELECT node, max(depth) AS depth FROM anc GROUP BY 1), " +
        "sub AS (SELECT anc, CAST(count(*) AS BIGINT) AS n_desc, CAST(sum(dd.cents) AS BIGINT) AS subtree_cents " +
        "FROM anc JOIN dd ON dd.r = anc.node GROUP BY 1) " +
        "SELECT dd.k, dep.depth, sub.n_desc, sub.subtree_cents " +
        "FROM dd JOIN dep ON dep.node = dd.r JOIN sub ON sub.anc = dd.r")),
    Gate("incr_hierarchy_move", (s, d) => {
      // subtree-move maintenance: rank 8's whole subtree re-files
      // beneath rank 3 — the materialized closure updates at SUBTREE
      // cost (drop only subtree-node -> outside-ancestor paths, compose
      // node->8 paths with 3's ancestry), and the rollup off the
      // maintained closure equals DuckDB's NATIVE recursion on the
      // rewritten edge table exactly
      val o = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      // persisted: the ranked spine feeds the edge table, the delta
      // predicates, the rollup join and the final projection — without
      // the cache every reference re-runs the global rank sort (the
      // round-12 4,106-line plan re-derived it ~168 times)
      val dd = graft.operators.Caches.persisted(
        o.withColumn("r", row_number().over(w).cast("long")))
      val edges = dd.where(col("r") >= 2)
        .select(col("r").as("child"), expr("greatest(r div 8, 1)").as("parent"))
      // the maintenance premise: yesterday's FULL closure is already
      // materialized (built once per content epoch under target/) —
      // the timed work is the subtree move, not a closure rebuild
      val closure = closureFull(s, d, o, edges, dd)
      val moved = graft.operators.Caches.persisted(
        graft.operators.Graph.moveSubtree(closure, edges, 8L, 3L))
      val depths = moved.groupBy(col("node")).agg(max("depth").as("depth"))
      val sub = moved
        .join(dd.select(col("r").as("node"), col("cents")), "node")
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum("cents").as("subtree_cents"))
      dd.select(col("k"), col("r"))
        .join(depths.withColumnRenamed("node", "r"), "r")
        .join(sub.withColumnRenamed("anc", "r"), "r")
        .select(col("k"), col("depth"), col("n_desc"), col("subtree_cents"))
    },
      // the same native recursion on the REWRITTEN edge table (rank 8
      // re-parented beneath rank 3) replays the subtree-move maintenance
      ("WITH RECURSIVE o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "dd AS (SELECT k, cents, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS r FROM o), " +
        "e AS (SELECT r AS child, CASE WHEN r = 8 THEN 3 ELSE greatest(r // 8, 1) END AS parent FROM dd WHERE r >= 2), " +
        "anc AS (SELECT r AS node, r AS anc, CAST(0 AS BIGINT) AS depth FROM dd " +
        "UNION ALL SELECT a.node, e.parent, a.depth + 1 FROM anc a JOIN e ON e.child = a.anc), " +
        "dep AS (SELECT node, max(depth) AS depth FROM anc GROUP BY 1), " +
        "sub AS (SELECT anc, CAST(count(*) AS BIGINT) AS n_desc, CAST(sum(dd.cents) AS BIGINT) AS subtree_cents " +
        "FROM anc JOIN dd ON dd.r = anc.node GROUP BY 1) " +
        "SELECT dd.k, dep.depth, sub.n_desc, sub.subtree_cents " +
        "FROM dd JOIN dep ON dep.node = dd.r JOIN sub ON sub.anc = dd.r")),
    Gate("incr_hierarchy_delete", (s, d) => {
      // subtree-delete maintenance: rank 8's whole subtree retires —
      // the materialized closure updates by ONE anti-join (no other
      // row can reference the deleted set), and the rollup equals
      // DuckDB's native recursion on the shrunken tree exactly
      val o = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      // persisted: the ranked spine feeds the edge table, the delta
      // predicates, the rollup join and the final projection — without
      // the cache every reference re-runs the global rank sort (the
      // round-12 4,106-line plan re-derived it ~168 times)
      val dd = graft.operators.Caches.persisted(
        o.withColumn("r", row_number().over(w).cast("long")))
      val edges = dd.where(col("r") >= 2)
        .select(col("r").as("child"), expr("greatest(r div 8, 1)").as("parent"))
      val closure = closureFull(s, d, o, edges, dd)
      val kept = graft.operators.Caches.persisted(
        graft.operators.Graph.removeSubtree(closure, edges, 8L))
      val depths = kept.groupBy(col("node")).agg(max("depth").as("depth"))
      val sub = kept
        .join(dd.select(col("r").as("node"), col("cents")), "node")
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_desc"), sum("cents").as("subtree_cents"))
      dd.select(col("k"), col("r"))
        .join(depths.withColumnRenamed("node", "r"), "r")
        .join(sub.withColumnRenamed("anc", "r"), "r")
        .select(col("k"), col("depth"), col("n_desc"), col("subtree_cents"))
    },
      // the same native recursion on the SHRUNKEN tree (rank 8's subtree
      // removed) replays the subtree-delete maintenance
      ("WITH RECURSIVE o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "dd AS (SELECT k, cents, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS r FROM o), " +
        "e AS (SELECT r AS child, greatest(r // 8, 1) AS parent FROM dd WHERE r >= 2), " +
        "anc0 AS (SELECT r AS node, r AS anc, CAST(0 AS BIGINT) AS depth FROM dd " +
        "UNION ALL SELECT a.node, e.parent, a.depth + 1 FROM anc0 a JOIN e ON e.child = a.anc), " +
        "subx AS (SELECT DISTINCT node FROM anc0 WHERE anc = 8), " +
        "dd2 AS (SELECT * FROM dd WHERE r NOT IN (SELECT node FROM subx)), " +
        "e2 AS (SELECT * FROM e WHERE child NOT IN (SELECT node FROM subx)), " +
        "anc AS (SELECT r AS node, r AS anc, CAST(0 AS BIGINT) AS depth FROM dd2 " +
        "UNION ALL SELECT a.node, e2.parent, a.depth + 1 FROM anc a JOIN e2 ON e2.child = a.anc), " +
        "dep AS (SELECT node, max(depth) AS depth FROM anc GROUP BY 1), " +
        "sub AS (SELECT anc, CAST(count(*) AS BIGINT) AS n_desc, CAST(sum(dd2.cents) AS BIGINT) AS subtree_cents " +
        "FROM anc JOIN dd2 ON dd2.r = anc.node GROUP BY 1) " +
        "SELECT dd2.k, dep.depth, sub.n_desc, sub.subtree_cents " +
        "FROM dd2 JOIN dep ON dep.node = dd2.r JOIN sub ON sub.anc = dd2.r")),
    Gate("incr_gram_maintain", (s, d) => {
      // O(delta) PCA maintenance: second moments are additive exact
      // integers — the materialized Gram of the old corpus plus the
      // delta batch's Gram equals the full rebuild EXACTLY, so the
      // eigen direction / whitening refreshes at delta cost
      val emb = rd(s, d, "embeddings")
      graft.operators.Similarity.mergeSecondMoments(
        graft.operators.Similarity.vectorSecondMoments(
          emb.where(col("vec_id") % 10 =!= 0)).unionByName(
          graft.operators.Similarity.vectorSecondMoments(
            emb.where(col("vec_id") % 10 === 0))))
    },
      // maintain == rebuild: the additive moments equal the one-pass Gram
      ("WITH x AS (SELECT vec_id, CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS i, " +
        "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 16777216.0) AS BIGINT) AS q FROM embeddings) " +
        "SELECT a.i, b.i AS j, count(*) AS n_vecs, " +
        "CAST(CAST(sum(a.q * b.q) AS DECIMAL(38,0)) AS VARCHAR) AS sumprod_fp " +
        "FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2")),
    Gate("events_logrank", (s, d) => {
      // log-rank test: do the even and odd user cohorts churn at the
      // same rate, censoring accounted for — observed vs expected
      // cohort-1 deaths at every pooled event time, chi-square(1)
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 2).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.logRankTest(subj, "g", "t", "observed")
    },
      graft.operators.Stats.logRankSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 2 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_cox_ph", (s, d) => {
      // Cox proportional hazards (Breslow ties) on the SAME two churn
      // cohorts as events_logrank — the effect SIZE the log-rank can't
      // give: hazard ratio of cohort 1 vs cohort 0 with Wald z, solved
      // by driver-side Newton on the collapsed suffix-sum risk table;
      // score0/info0 tie it back to the log-rank's O−E (the classical
      // score-test identity, spec-pinned)
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 2).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.coxPhBinary(subj, "g", "t", "observed")
    },
      graft.operators.Stats.coxPhBinarySql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 2 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_cox_multi", (s, d) => {
      // multi-covariate Cox (two binary covariates): which cohort
      // membership carries the churn hazard NET of the other — the
      // adjusted form a single-covariate fit can't give; p×p
      // driver-side Newton on the (time × pattern) collapsed risk
      // table, no-pivot elimination the oracle replays op-for-op
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 2).as("x1"),
        when(col("user_id") % 3 === 0, 1L).otherwise(0L).as("x2"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.coxPhMulti(subj, Seq("x1", "x2"), "t", "observed")
    },
      graft.operators.Stats.coxPhMultiSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 2 AS x1, " +
          "CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS x2, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)", "x1", "x2")),
    Gate("events_ph_check", (s, d) => {
      // the diagnostic events_cox_ph should ship with: Schoenfeld-style
      // score-residual trend vs event-time rank — a fading (or
      // growing) cohort effect violates the proportional-hazards
      // assumption the single hazard ratio depends on
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 2).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.coxPhAssumptionCheck(subj, "g", "t", "observed")
    },
      graft.operators.Stats.coxPhAssumptionCheckSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 2 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_cif", (s, d) => {
      // competing-risks cumulative incidence (Aalen–Johansen): churn
      // splits into cause 1 (users who ever purchased — lost revenue)
      // vs cause 2 (never purchased); 1−KM per cause would overstate
      // both, the CIF allocates each day's survival mass to the cause
      // that claimed it and Σ_k CIF_k = 1 − S(t) exactly
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_p"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 2).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"),
          when(col("has_p") === 1L, 1L).otherwise(2L)).otherwise(0L).as("cause"))
      graft.operators.Stats.cumulativeIncidence(subj, "g", "t", "cause")
    },
      graft.operators.Stats.cumulativeIncidenceSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1, " +
          "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p " +
          "FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 2 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN " +
          "(CASE WHEN has_p = 1 THEN 1 ELSE 2 END) ELSE 0 END AS cause " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_cox_strat", (s, d) => {
      // stratified Cox: each user_id%3 stratum keeps its own baseline
      // hazard (risk sets never cross strata), the user_id%2 cohort
      // effect is pooled across them — the PH-violating-nuisance
      // answer a single baseline can't give
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 2).as("g"),
        (col("user_id") % 3).as("st"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.coxPhStrat(subj, "g", "st", "t", "observed")
    },
      graft.operators.Stats.coxPhStratSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 2 AS g, user_id % 3 AS st, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_logrank_k", (s, d) => {
      // omnibus k-sample log-rank over the FOUR user_id%4 cohorts —
      // "does any cohort churn differently" before pairwise drilling;
      // conservative Σ(O−E)²/E on χ²(3), same collapsed-axis suffix-
      // sum shape as the two-sample test
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 4).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.logRankTestK(subj, "g", "t", "observed", numGroups = 4)
    },
      graft.operators.Stats.logRankTestKSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 4 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)", numGroups = 4)),
    Gate("events_power_analysis", (s, d) => {
      // experiment sizing from observed data: users-per-arm required to
      // detect an absolute high-value-conversion lift of 1/2/5 points at 5%
      // two-sided / 80% power (normal approximation, pinned z literals)
      // against the corpus's actual purchase-conversion baseline — the
      // question every experiment review asks before launch
      val ev = rd(s, d, "events")
      val base = ev.agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("event_type") === "purchase" && col("value") >= 90,
          col("user_id"))).as("n_conv"))
      val z = 1.96 + 0.8416
      val z2 = z * z
      val deltas = Seq(10000L, 20000L, 50000L)
      import s.implicits._
      base.crossJoin(deltas.toDF("delta_ppm"))
        .withColumn("p1", col("n_conv").cast("double") / col("n_users").cast("double"))
        .withColumn("p2", col("p1") + col("delta_ppm").cast("double") / 1000000.0)
        .withColumn("n_per_arm",
          ceil(lit(z2) * (col("p1") * (lit(1.0) - col("p1")) +
            col("p2") * (lit(1.0) - col("p2"))) /
            ((col("delta_ppm").cast("double") / 1000000.0) *
              (col("delta_ppm").cast("double") / 1000000.0))).cast("long"))
        .select("delta_ppm", "n_users", "n_conv", "p1", "p2", "n_per_arm")
    },
      {
        val z = 1.96 + 0.8416
        val z2 = z * z
        "WITH b AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
          "CAST(count(DISTINCT CASE WHEN event_type = 'purchase' AND value >= 90 THEN user_id END) AS BIGINT) AS n_conv FROM events), " +
          "d AS (SELECT unnest([10000, 20000, 50000]) AS delta_ppm), " +
          "x AS (SELECT CAST(d.delta_ppm AS BIGINT) AS delta_ppm, b.n_users, b.n_conv, " +
          "CAST(b.n_conv AS DOUBLE) / CAST(b.n_users AS DOUBLE) AS p1 FROM b CROSS JOIN d), " +
          "y AS (SELECT *, p1 + CAST(delta_ppm AS DOUBLE) / 1000000.0 AS p2 FROM x) " +
          "SELECT delta_ppm, n_users, n_conv, p1, p2, " +
          s"CAST(ceil($z2 * (p1 * (1.0 - p1) + p2 * (1.0 - p2)) / " +
          "((CAST(delta_ppm AS DOUBLE) / 1000000.0) * (CAST(delta_ppm AS DOUBLE) / 1000000.0))) AS BIGINT) AS n_per_arm " +
          "FROM y"
      }),
    Gate("ab_srm_check", (s, d) => {
      // sample-ratio-mismatch guard — the FIRST check an experiment
      // readout runs: observed arm counts vs the declared 50/50
      // allocation, chi-square(1) on the exact grid; a flagged SRM
      // means assignment or logging is broken and every downstream
      // lift number is garbage. The assignment table is MATERIALIZED
      // once per content epoch (in production it IS a long-lived
      // table every readout reads), so the gate times the
      // register-sized check, not the corpus distinct it shares with
      // the other ab_* gates
      val arms = abArmsDf(s, d)
      val counts = arms.groupBy("arm").agg(count(lit(1)).as("n_obs"))
      val tot = counts.agg(sum("n_obs").as("n_total"))
      counts.crossJoin(tot)
        .select(col("arm"), col("n_obs"), col("n_total"),
          (col("n_total").cast("double") * 0.5).as("expected"))
        .withColumn("chi2_term",
          (col("n_obs").cast("double") - col("expected")) *
            (col("n_obs").cast("double") - col("expected")) / col("expected"))
        .groupBy()
        .agg(max("n_total").as("n_total"),
          sum(when(col("arm") === "a", col("n_obs"))).as("n_a"),
          sum(when(col("arm") === "b", col("n_obs"))).as("n_b"),
          sum("chi2_term").as("chi2"))
        .withColumn("srm_flag", col("chi2") > 3.841)
    },
      (s"WITH u AS (SELECT DISTINCT user_id FROM events), " +
        s"c AS (SELECT ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
        "o AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM o), " +
        "x AS (SELECT o.arm, o.n_obs, t.n_total, CAST(t.n_total AS DOUBLE) * 0.5 AS expected " +
        "FROM o CROSS JOIN t) " +
        "SELECT max(n_total) AS n_total, " +
        "CAST(sum(CASE WHEN arm = 'a' THEN n_obs END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 'b' THEN n_obs END) AS BIGINT) AS n_b, " +
        "sum((CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected) / expected) AS chi2, " +
        "sum((CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected) / expected) > 3.841 AS srm_flag " +
        "FROM x")),
    Gate("events_nelson_aalen", (s, d) => {
      // Nelson–Aalen cumulative hazard per cohort — the additive
      // intensity view of the same censored lifetimes the KM curve
      // reads multiplicatively (and the one that decomposes by cause);
      // Poisson-type variance rides the same collapsed axis
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 4).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.nelsonAalen(subj, "g", "t", "observed")
    },
      graft.operators.Stats.nelsonAalenSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 4 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("ab_msprt_sequential", (s, d) => {
      // the PEEKING-proof readout: an always-valid (mixture-SPRT)
      // p-value per reporting day over cumulative per-arm entries and
      // high-value conversions — safe to read and act on every day,
      // where a daily fixed-horizon z-test silently inflates alpha;
      // arms from the materialized assignment table
      val ev = rd(s, d, "events")
      val peru = ev.groupBy("user_id").agg(
        min(to_date(col("ts"))).as("join_d"),
        min(when(col("event_type") === "purchase" && col("value") >= 90,
          to_date(col("ts")))).as("conv_d"))
      graft.operators.Stats.msprtTwoProportion(
        peru.join(abArmsDf(s, d), "user_id"), "arm", "join_d", "conv_d",
        tau2 = 1e-4, alpha = 0.05)
    },
      graft.operators.Stats.msprtTwoProportionSql(
        "u AS (SELECT DISTINCT user_id FROM events), " +
          s"ar AS (SELECT user_id, ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
          "pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS join_d, " +
          "min(CASE WHEN event_type = 'purchase' AND value >= 90 THEN CAST(ts AS DATE) END) AS conv_d " +
          "FROM events GROUP BY 1), " +
          "subjects AS (SELECT ar.arm, pu.join_d, pu.conv_d FROM pu JOIN ar USING (user_id))",
        tau2 = 1e-4, alpha = 0.05)),
    Gate("ml_conformal_coverage", (s, d) => {
      // split-conformal uncertainty band, end-to-end: a deterministic
      // group-mean model (per-priority integer mean price, fit on the
      // kk%4∈{0,1} train split), calibration residual quantile q̂ at
      // α=10% on kk%4=2 (exact integer rank), and the marginal-coverage
      // promise MEASURED on the held-out kk%4=3 test split — the
      // distribution-free band a scoring pipeline wraps predictions in
      // before acting on them
      val o = rd(s, d, "orders").select(col("o_orderkey").as("kk"),
        col("o_orderpriority").as("pr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tr = o.where(col("kk") % 4 <= 1).groupBy("pr")
        .agg(expr("sum(cents) div count(1)").as("yhat"))
      def withHat(slice: DataFrame): DataFrame =
        slice.join(broadcast(tr), "pr").select(col("cents"), col("yhat"))
      graft.operators.Stats.conformalCoverage(
        withHat(o.where(col("kk") % 4 === 2)),
        withHat(o.where(col("kk") % 4 === 3)),
        "cents", "yhat", alphaPct = 10)
    },
      graft.operators.Stats.conformalCoverageSql(
        "b AS (SELECT o_orderkey AS kk, o_orderpriority AS pr, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
          "tr AS (SELECT pr, sum(cents) // count(*) AS yhat FROM b WHERE kk % 4 <= 1 GROUP BY 1), " +
          "cal AS (SELECT b.cents AS y, tr.yhat FROM b JOIN tr ON tr.pr = b.pr WHERE b.kk % 4 = 2), " +
          "tst AS (SELECT b.cents AS y, tr.yhat FROM b JOIN tr ON tr.pr = b.pr WHERE b.kk % 4 = 3)",
        alphaPct = 10)),
    Gate("ml_conformal_group", (s, d) => {
      // MONDRIAN conformal: the same pipeline with PER-PRIORITY bands —
      // group-conditional ≥ 1−α coverage, which the marginal band can't
      // promise per segment; a manufactured 3-row "zz_tiny" group
      // exercises the loud insufficient-calibration path (NULL band +
      // cal_sufficient = false, never a silent garbage quantile)
      import s.implicits._
      val o = rd(s, d, "orders").select(col("o_orderkey").as("kk"),
        col("o_orderpriority").as("pr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tr = o.where(col("kk") % 4 <= 1).groupBy("pr")
        .agg(expr("sum(cents) div count(1)").as("yhat"))
      def withHat(slice: DataFrame): DataFrame =
        slice.join(broadcast(tr), "pr").select(col("pr"), col("cents"), col("yhat"))
      val tinyCal = Seq(("zz_tiny", 100L, 90L), ("zz_tiny", 100L, 110L),
        ("zz_tiny", 100L, 95L)).toDF("pr", "cents", "yhat")
      val tinyTest = Seq(("zz_tiny", 100L, 99L), ("zz_tiny", 160L, 99L))
        .toDF("pr", "cents", "yhat")
      graft.operators.Stats.conformalCoverageByGroup(
        withHat(o.where(col("kk") % 4 === 2)).unionByName(tinyCal),
        withHat(o.where(col("kk") % 4 === 3)).unionByName(tinyTest),
        "pr", "cents", "yhat", alphaPct = 10)
    },
      graft.operators.Stats.conformalCoverageByGroupSql(
        "b AS (SELECT o_orderkey AS kk, o_orderpriority AS pr, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
          "tr AS (SELECT pr, sum(cents) // count(*) AS yhat FROM b WHERE kk % 4 <= 1 GROUP BY 1), " +
          "cal AS (SELECT b.pr AS g, b.cents AS y, tr.yhat FROM b JOIN tr ON tr.pr = b.pr WHERE b.kk % 4 = 2 " +
          "UNION ALL SELECT 'zz_tiny', CAST(v.y AS BIGINT), CAST(v.yh AS BIGINT) " +
          "FROM (VALUES (100, 90), (100, 110), (100, 95)) v(y, yh)), " +
          "tst AS (SELECT b.pr AS g, b.cents AS y, tr.yhat FROM b JOIN tr ON tr.pr = b.pr WHERE b.kk % 4 = 3 " +
          "UNION ALL SELECT 'zz_tiny', CAST(v.y AS BIGINT), CAST(v.yh AS BIGINT) " +
          "FROM (VALUES (100, 99), (160, 99)) v(y, yh))",
        groupAlias = "pr", alphaPct = 10)),
    Gate("ab_diff_in_diff", (s, d) => {
      // quasi-experimental effect estimate: per-user purchase revenue
      // in the pre and post periods (cut 2024-01-15), cohort b's
      // pre→post change minus cohort a's — nets out the cohort level
      // difference AND the common time trend; exact decimal cell
      // moments, one pass
      val ev = rd(s, d, "events")
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      val perUserPeriod = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), (col("ts") >= cut).cast("int").as("post"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      graft.operators.Stats.diffInDiff(
        perUserPeriod.join(abArmsDf(s, d), "user_id"), "arm", "post", "cents")
    },
      graft.operators.Stats.diffInDiffSql(
        "u AS (SELECT DISTINCT user_id FROM events), " +
          s"ar AS (SELECT user_id, ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
          "pp AS (SELECT user_id, CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END AS post, " +
          "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
          "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
          "obs AS (SELECT ar.arm, pp.post, pp.cents AS x FROM pp JOIN ar USING (user_id))")),
    Gate("dq_cohens_kappa", (s, d) => {
      // annotator-agreement QA: two deterministic document labelers
      // (char-length buckets vs space-count buckets) scored with
      // chance-corrected kappa — raw agreement flatters the skewed
      // keep/maybe/drop base rates, κ nets the luck out
      val docs = rd(s, d, "documents")
      val chars = length(col("text"))
      val spaces = chars - length(expr("replace(text, ' ', '')"))
      val labeled = docs.select(
        when(chars > 800, "keep").when(chars > 200, "maybe")
          .otherwise("drop").as("rater_a"),
        when(spaces > 150, "keep").when(spaces > 40, "maybe")
          .otherwise("drop").as("rater_b"))
      graft.operators.Quality.cohensKappa(labeled, "rater_a", "rater_b")
    },
      graft.operators.Quality.cohensKappaSql(
        "pairs AS (SELECT " +
          "CASE WHEN length(text) > 800 THEN 'keep' WHEN length(text) > 200 THEN 'maybe' ELSE 'drop' END AS a, " +
          "CASE WHEN length(text) - length(replace(text, ' ', '')) > 150 THEN 'keep' " +
          "WHEN length(text) - length(replace(text, ' ', '')) > 40 THEN 'maybe' ELSE 'drop' END AS b " +
          "FROM documents)")),
    Gate("dq_kripp_alpha", (s, d) =>
      // multi-rater reliability where kappa's two-fixed-raters
      // contract never holds: every lineitem "rates" its order with
      // its returnflag (variable raters per unit, single-line orders
      // drop out as unpairable — the missing-data tolerance that IS
      // the point of alpha); Krippendorff's nominal coincidence form,
      // exact-integer marginals, his own reliability bands
      graft.operators.Quality.krippendorffAlpha(
        rd(s, d, "lineitem"), "l_orderkey", "l_returnflag"),
      graft.operators.Quality.krippendorffAlphaSql(
        "ratings AS (SELECT CAST(l_orderkey AS VARCHAR) AS u, " +
          "CAST(l_returnflag AS VARCHAR) AS v FROM lineitem)")),
    Gate("ab_bootstrap_ci", (s, d) => {
      // distribution-free per-arm revenue CI: 64 derandomized
      // Poisson-weight replicas of per-user purchase revenue (skewed —
      // exactly where the normal CI lies), empirical 2.5/97.5% band of
      // the replica means; a pure function of (data, salt), so retries
      // publish identical intervals and the oracle replays every draw
      val ev = rd(s, d, "events")
      val perUser = ev.where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      graft.operators.Stats.poissonBootstrapCi(
        perUser.join(abArmsDf(s, d), "user_id"), "arm", "user_id", "cents",
        bReps = 64, salt = "r10")
    },
      graft.operators.Stats.poissonBootstrapCiSql(
        "u AS (SELECT DISTINCT user_id FROM events), " +
          s"ar AS (SELECT user_id, ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
          "pu AS (SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
          "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
          "base AS (SELECT ar.arm AS g, CAST(pu.user_id AS VARCHAR) AS id, pu.cents AS x " +
          "FROM pu JOIN ar USING (user_id))",
        bReps = 64, salt = "r10", groupAlias = "arm")),
    Gate("stream_conformal_drift", (s, d) => {
      // STREAMING coverage monitor for a frozen conformal band: model
      // (per-event-type integer mean) and q̂ freeze on the week-0
      // calibration window; each later week folds its (n, n_covered)
      // counters into the STAMPED pointer table — additive counters
      // are exactly the state a crash replay double-counts, so a
      // POISONED re-delivery of week 1 must skip on the stamp; week 3
      // arrives distribution-shifted (+$500), its coverage collapses
      // and the monitor flags drift — the "retrain the band" trigger,
      // machine-checked. The one-pass batch oracle recomputes every
      // week's coverage directly
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val base = ev.select(col("ts"), col("event_type").as("et"),
        round(col("value") * 100).cast("long").as("cents"))
      def slice(i: Int): DataFrame = i match {
        case 0 => base.filter(col("ts") < cuts(0))
        case 1 => base.filter(col("ts") >= cuts(0) && col("ts") < cuts(1))
        case 2 => base.filter(col("ts") >= cuts(1) && col("ts") < cuts(2))
        // week 3 is the DRIFTED feed: a +$500 shift in the metric
        case _ => base.filter(col("ts") >= cuts(2))
          .withColumn("cents", col("cents") + 50000L)
      }
      // frozen artifacts from the week-0 calibration window: the
      // per-type integer-mean model and the α=10% conformal q̂ (exact
      // integer rank over the collapsed residual axis)
      val model = slice(0).groupBy("et")
        .agg(expr("sum(cents) div count(1)").as("yhat"))
      val calR = slice(0).join(broadcast(model), "et")
        .select(abs(col("cents") - col("yhat")).as("__r"))
      val nCal = calR.count()
      val k = ((nCal + 1L) * 90L + 99L) / 100L
      require(k <= nCal, "calibration window too small")
      val qHat = calR.groupBy("__r").agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(
          Window.orderBy(col("__r"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("__cum") >= k).agg(min(col("__r"))).head().getLong(0)
      val (dir, tbl) = Artifacts.fold(s, d, s"confdrift_state_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        def fold(batch: DataFrame, batchId: Long): Unit = {
          if (batchId <= Warehouse.Pointer.lastBatch(s, dir, tbl)) return
          val inc = batch.join(broadcast(model), "et")
            .agg(count(lit(1)).as("n"),
              sum(when(abs(col("cents") - col("yhat")) <= qHat, 1L)
                .otherwise(0L)).as("n_covered"))
            .select(lit(batchId.toInt).as("week"), col("n"), col("n_covered"))
          val cur =
            if (Warehouse.Pointer.exists(s, dir, tbl))
              Warehouse.Pointer.read(s, dir, tbl)
            else s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], inc.schema)
          Warehouse.Pointer.overwrite(cur.unionByName(inc), dir, tbl, 2, batchId)
        }
        fold(slice(0), 0L)
        fold(slice(1), 1L)
        // poisoned crash replay: week 1 re-delivered corrupted under
        // the same batch id — the stamp must skip it (an additive
        // counter state would otherwise double-count)
        fold(slice(1).withColumn("cents", col("cents") + 999L), 1L)
        fold(slice(2), 2L)
        fold(slice(3), 3L)
      }
      Warehouse.Pointer.read(s, dir, tbl)
        .select(col("week"), col("n"), col("n_covered"),
          expr("n_covered * 1000000L div n").as("coverage_ppm"))
        .withColumn("drifted", col("coverage_ppm") < 850000L)
    },
      // one-pass batch recomputation of the streamed weekly coverage
      // monitor: frozen week-0 model + q̂, per-week coverage, drift flag
      ("WITH b AS (SELECT ts, event_type AS et, CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "c0 AS (SELECT * FROM b WHERE ts < TIMESTAMP '2024-01-08 00:00:00'), " +
        "m AS (SELECT et, sum(cents) // count(*) AS yhat FROM c0 GROUP BY 1), " +
        "calr AS (SELECT abs(c0.cents - m.yhat) AS r FROM c0 JOIN m ON m.et = c0.et), " +
        "nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM calr), " +
        "kk AS (SELECT ((n + 1) * 90 + 99) // 100 AS k FROM nc), " +
        "bv AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM calr GROUP BY 1), " +
        "cm AS (SELECT r, sum(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM bv), " +
        "q AS (SELECT CAST(min(r) AS BIGINT) AS q_hat FROM cm CROSS JOIN kk WHERE cum >= kk.k), " +
        "wkd AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 0 " +
        "WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 " +
        "WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 2 ELSE 3 END AS week, et, cents FROM b), " +
        "obs AS (SELECT week, et, CASE WHEN week = 3 THEN cents + 50000 ELSE cents END AS cents FROM wkd), " +
        "cov AS (SELECT o.week, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN abs(o.cents - m.yhat) <= (SELECT q_hat FROM q) THEN 1 ELSE 0 END) AS BIGINT) AS n_covered " +
        "FROM obs o JOIN m ON m.et = o.et GROUP BY 1) " +
        "SELECT CAST(week AS INT) AS week, n, n_covered, " +
        "CAST(n_covered * 1000000 // n AS BIGINT) AS coverage_ppm, " +
        "(n_covered * 1000000 // n) < 850000 AS drifted FROM cov")),
    Gate("stream_ucb_replay", (s, d) => {
      // STREAMING bandit state: each week folds per-arm (pulls,
      // rewards) ADDITIVE counters into the stamped pointer table —
      // additive state is exactly what an unstamped crash replay
      // double-counts, so a poisoned week-1 redelivery must skip on
      // the stamp; the read computes UCB1 bounds over the ACCUMULATED
      // history, so the allocation decision reproduces from the
      // persisted counters alone (and the batch oracle recomputes it
      // from the raw feed — identical because the counters are exact)
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val base = ev.select(col("ts"), (col("user_id") % 4).as("arm"),
        when(col("event_type") === "purchase" && col("value") >= 90, 1L)
          .otherwise(0L).as("reward"))
      def slice(i: Int): DataFrame = i match {
        case 0 => base.filter(col("ts") < cuts(0))
        case 1 => base.filter(col("ts") >= cuts(0) && col("ts") < cuts(1))
        case 2 => base.filter(col("ts") >= cuts(1) && col("ts") < cuts(2))
        case _ => base.filter(col("ts") >= cuts(2))
      }
      val (dir, tbl) = Artifacts.fold(s, d, s"ucbstate_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        def fold(batch: DataFrame, batchId: Long): Unit = {
          if (batchId <= Warehouse.Pointer.lastBatch(s, dir, tbl)) return
          val inc = batch.groupBy("arm")
            .agg(count(lit(1)).as("n"), sum(col("reward")).as("s"))
            .select(lit(batchId.toInt).as("week"), col("arm"), col("n"), col("s"))
          val cur =
            if (Warehouse.Pointer.exists(s, dir, tbl))
              Warehouse.Pointer.read(s, dir, tbl)
            else s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], inc.schema)
          Warehouse.Pointer.overwrite(cur.unionByName(inc), dir, tbl, 2, batchId)
        }
        fold(slice(0), 0L)
        fold(slice(1), 1L)
        // poisoned crash replay: week 1 re-delivered with corrupted
        // rewards under the same batch id — the stamp must skip it
        fold(slice(1).withColumn("reward", col("reward") + 1L), 1L)
        fold(slice(2), 2L)
        fold(slice(3), 3L)
      }
      graft.operators.Stats.ucbFromCounters(
        Warehouse.Pointer.read(s, dir, tbl)
          .groupBy("arm").agg(sum(col("n")).as("n"), sum(col("s")).as("__s")))
    },
      graft.operators.Stats.ucbAllocationSql(
        "pulls AS (SELECT user_id % 4 AS arm, " +
          "CASE WHEN event_type = 'purchase' AND value >= 90 THEN 1 ELSE 0 END AS reward " +
          "FROM events)")),
    Gate("stream_msprt_replay", (s, d) => {
      // STREAMING experiment monitoring with exactly-once state: the
      // per-user (first-seen day, first-conversion day) state folds
      // week by week through the STAMPED pointer table — each fold is
      // a least()-merge (order-safe min semantics), a POISONED replay
      // of week 2 must skip on the stamp — and the always-valid
      // sequential readout computed FROM THE STATE equals the one-pass
      // batch computation exactly (the same oracle as
      // ab_msprt_sequential): maintenance invisible in the readout
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      def slice(i: Int): DataFrame = i match {
        case 0 => ev.filter(col("ts") < cuts(0))
        case 1 => ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1))
        case 2 => ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2))
        case _ => ev.filter(col("ts") >= cuts(2))
      }
      val (dir, tbl) = Artifacts.fold(s, d, s"msprt_state_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        def fold(batch: DataFrame, batchId: Long): Unit = {
          if (batchId <= Warehouse.Pointer.lastBatch(s, dir, tbl)) return
          val inc = batch.groupBy("user_id").agg(
            min(to_date(col("ts"))).as("join_d"),
            min(when(col("event_type") === "purchase" && col("value") >= 90,
              to_date(col("ts")))).as("conv_d"))
          val cur =
            if (Warehouse.Pointer.exists(s, dir, tbl))
              Warehouse.Pointer.read(s, dir, tbl)
            else s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], inc.schema)
          val merged = cur.alias("a").join(inc.alias("b"), Seq("user_id"), "full_outer")
            .select(col("user_id"),
              least(col("a.join_d"), col("b.join_d")).as("join_d"),
              least(col("a.conv_d"), col("b.conv_d")).as("conv_d"))
          Warehouse.Pointer.overwrite(merged, dir, tbl, 2, batchId)
        }
        fold(slice(0), 0L)
        fold(slice(1), 1L)
        // poisoned crash replay: week 2 re-delivered CORRUPTED under
        // the same batch id — the stamp must skip it
        fold(slice(1).withColumn("value", col("value") + 1000.0), 1L)
        fold(slice(2), 2L)
        fold(slice(3), 3L)
      }
      val subj = Warehouse.Pointer.read(s, dir, tbl).join(abArmsDf(s, d), "user_id")
      graft.operators.Stats.msprtTwoProportion(subj, "arm", "join_d", "conv_d",
        tau2 = 1e-4, alpha = 0.05)
    },
      // the streaming fold must be INVISIBLE in the readout: same
      // one-pass oracle as ab_msprt_sequential
      graft.operators.Stats.msprtTwoProportionSql(
        "u AS (SELECT DISTINCT user_id FROM events), " +
          s"ar AS (SELECT user_id, ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
          "pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS join_d, " +
          "min(CASE WHEN event_type = 'purchase' AND value >= 90 THEN CAST(ts AS DATE) END) AS conv_d " +
          "FROM events GROUP BY 1), " +
          "subjects AS (SELECT ar.arm, pu.join_d, pu.conv_d FROM pu JOIN ar USING (user_id))",
        tau2 = 1e-4, alpha = 0.05)),
    Gate("events_kaplan_meier", (s, d) => {
      // Kaplan-Meier survival with right-censoring: per user, lifetime
      // = first->last event days; users still active within 1 day of
      // the horizon are CENSORED (dropping them would bias survival
      // down); curves per user_id%4 cohort — at-risk count, event
      // count and product-limit survival at every churn time
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 4).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.kaplanMeier(subj, "g", "t", "observed")
    },
      graft.operators.Stats.kaplanMeierSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 4 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_rmst", (s, d) => {
      // restricted mean survival time at a 30-day horizon per cohort —
      // "expected retained days out of the first 30", the KM-curve
      // area that stays meaningful when medians don't exist and
      // hazards aren't proportional; one lead() window + one sum over
      // the same collapsed survival axis
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 4).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.restrictedMeanSurvival(subj, "g", "t", "observed",
        horizon = 30L)
    },
      graft.operators.Stats.restrictedMeanSurvivalSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 4 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)", horizon = 30L)),
    Gate("events_km_ci", (s, d) => {
      // the same curves with GREENWOOD 95% bands — Var = S² Σ d/(n(n−d))
      // as one more running windowed sum over the collapsed axis; the
      // readout a retention comparison actually ships
      val ev = rd(s, d, "events")
      val per = ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      val gm = per.agg(max(col("t1")).as("gmax"))
      val subj = per.crossJoin(gm).select(
        (col("user_id") % 4).as("g"),
        datediff(col("t1"), col("t0")).cast("long").as("t"),
        when(col("t1") < col("gmax") - expr("INTERVAL 1 DAYS"), 1)
          .otherwise(0).as("observed"))
      graft.operators.Stats.kaplanMeierGreenwood(subj, "g", "t", "observed")
    },
      graft.operators.Stats.kaplanMeierGreenwoodSql(
        "p AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1), " +
          "gm AS (SELECT max(t1) AS gmax FROM p), " +
          "subjects AS (SELECT user_id % 4 AS g, " +
          "CAST(datediff('day', CAST(t0 AS DATE), CAST(t1 AS DATE)) AS BIGINT) AS t, " +
          "CASE WHEN t1 < gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END AS observed " +
          "FROM p CROSS JOIN gm)")),
    Gate("events_props_sum", (s, d) =>
      // semi-structured ingestion: the JSON props column parsed in
      // place (get_json_object), aggregated per event type — schema
      // stays dynamic, parsing is a codegen projection, no UDF
      rd(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("__k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("__k")).as("sum_k"),
          count(col("__k")).as("n_with_k")),
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k " +
        "FROM events GROUP BY event_type")),
    Gate("sample_temporal_split", (s, d) =>
      // leak-proof time-based split: last ~9 days test, 2-day embargo
      // buffer before the cutoff
      Sampling.temporalSplit(rd(s, d, "events"), "ts",
        java.time.Instant.parse("2024-01-22T00:00:00Z"),
        java.time.Duration.ofDays(2))
        .select("event_id", "split"),
      // cutoff 2024-01-22T00:00:00Z = 1705881600000000 us; embargo 2 days
      ("SELECT event_id, CASE WHEN epoch_us(ts) < 1705708800000000 THEN 'train' " +
        "WHEN epoch_us(ts) < 1705881600000000 THEN 'embargo' ELSE 'test' END AS split " +
        "FROM events")),
    Gate("dq_categorical_drift", (s, d) => {
      // distribution-shift report: event-type mix before vs after the
      // cutoff, exact integer ppm shares
      val e = rd(s, d, "events")
      val cut = tlit("2024-01-08 00:00:00")
      graft.operators.Quality.categoricalDrift(
        e.filter(col("ts") < cut), e.filter(col("ts") >= cut), "event_type")
    },
      ("WITH b AS (SELECT event_type, count(*) AS n_before FROM events " +
        "WHERE ts < TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1), " +
        "a AS (SELECT event_type, count(*) AS n_after FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' GROUP BY 1), " +
        "j AS (SELECT coalesce(b.event_type, a.event_type) AS event_type, " +
        "coalesce(n_before, 0) AS n_before, coalesce(n_after, 0) AS n_after " +
        "FROM b FULL OUTER JOIN a ON a.event_type = b.event_type), " +
        "t AS (SELECT CAST(sum(n_before) AS BIGINT) AS tb, CAST(sum(n_after) AS BIGINT) AS ta FROM j) " +
        "SELECT event_type, n_before, n_after, " +
        "CAST(coalesce(n_before * 1000000 // nullif(tb, 0), 0) AS BIGINT) AS ppm_before, " +
        "CAST(coalesce(n_after * 1000000 // nullif(ta, 0), 0) AS BIGINT) AS ppm_after, " +
        "CAST(coalesce(n_after * 1000000 // nullif(ta, 0), 0) - " +
        "coalesce(n_before * 1000000 // nullif(tb, 0), 0) AS BIGINT) AS delta_ppm " +
        "FROM j, t")),
    Gate("e4_json_props", (s, d) =>
      // semi-structured handling: extract an int field from the JSON
      // props payload and profile it per event type
      rd(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k, " +
        "min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k, " +
        "max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k " +
        "FROM events GROUP BY event_type")),

    // —— training-data pipeline: dedup ——
    Gate("text_source_profile", (s, d) =>
      // corpus profile per ingestion source: doc counts, declared-size
      // stats, and how many docs' declared n_chars disagrees with the
      // actual text length (a data-quality signal)
      rd(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count(when(col("n_chars") =!= length(col("text")), 1)).as("n_mismatched")),
      ("SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
        "count(CASE WHEN n_chars <> length(text) THEN 1 END) AS n_mismatched " +
        "FROM documents GROUP BY source")),
    Gate("dedup_exact", (s, d) => Dedup.exact(rd(s, d, "documents")),
      "SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY md5(text)"),
    Gate("dedup_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(rd(s, d, "documents"), 1, 20),
      s"WITH $ngramCtes SELECT id_a, id_b, inter, union_size FROM pairs"),
    Gate("dedup_ngram_capped", (s, d) =>
      // the scale configuration (stop-gram cap bounds hot-gram pair
      // expansion) under the same oracle gate as the exact run
      Dedup.ngramJaccardPairs(rd(s, d, "documents"), 1, 20, maxGramDf = 5),
      OracleSql.dedupNgramCapped(1, 20, 5)),
    Gate("dedup_ngram_prefix", (s, d) =>
      // prefix-filtered candidates, exact verification — provably the
      // same output as an all-grams join at the same threshold. Run at
      // 0.9: prefix filtering is the HIGH-threshold tool (prefix ≈
      // (1−t)·|doc| grams, so t=0.9 expands ~10% of the gram table,
      // all rare grams); at low thresholds the plain inverted index
      // is the right shape and this one degenerates
      Dedup.ngramJaccardPairsPrefix(rd(s, d, "documents"), 9, 10),
      // the prefix-filter join is output-identical to an all-grams join
      // at the same threshold (prefix-filtering lemma) — the oracle is
      // the plain pair scan at 9/10
      s"WITH ${OracleSql.ngramPairCtes(9, 10)} SELECT id_a, id_b, inter, union_size FROM pairs"),
    Gate("dedup_sorted_neighborhood", (s, d) =>
      // blocking by sorted normalized-prefix neighborhoods: candidates
      // bounded at 2*window per doc regardless of gram skew
      Dedup.sortedNeighborhoodPairs(rd(s, d, "documents"), windowSize = 5),
      (s"WITH ${OracleSql.wordTriCtes}, " +
        "nrm AS (SELECT doc_id, substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 12) AS bk FROM documents), " +
        "rk AS (SELECT doc_id, row_number() OVER (ORDER BY bk, doc_id) AS r FROM nrm), " +
        "cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS id_a, greatest(x.doc_id, y.doc_id) AS id_b " +
        "FROM rk x JOIN rk y ON y.r > x.r AND y.r - x.r <= 5), " +
        "ov AS (SELECT c.id_a, c.id_b, count(*) AS inter FROM cand c " +
        "JOIN tri a ON a.doc_id = c.id_a JOIN tri b ON b.doc_id = c.id_b AND b.g = a.g GROUP BY 1, 2) " +
        "SELECT ov.id_a, ov.id_b, ov.inter, sa.n + sb.n - ov.inter AS union_size " +
        "FROM ov JOIN sz sa ON sa.doc_id = ov.id_a JOIN sz sb ON sb.doc_id = ov.id_b " +
        "WHERE ov.inter * 20 >= (sa.n + sb.n - ov.inter) * 1")),
    Gate("dedup_ngram_containment", (s, d) =>
      // asymmetric overlap: smaller doc >= 50% contained in the other —
      // the quote/subset detector Jaccard's union denominator misses
      Dedup.ngramContainmentPairs(rd(s, d, "documents"), 1, 2),
      (s"WITH ${OracleSql.wordTriCtes}, " +
        "ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM tri a JOIN tri b " +
        "ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT ov.id_a, ov.id_b, ov.inter, sa.n AS n_a, sb.n AS n_b, " +
        "CAST(ov.inter * 1000000 // least(sa.n, sb.n) AS BIGINT) AS containment_ppm " +
        "FROM ov JOIN sz sa ON sa.doc_id = ov.id_a JOIN sz sb ON sb.doc_id = ov.id_b " +
        "WHERE ov.inter * 2 >= least(sa.n, sb.n) * 1")),
    Gate("text_novelty", (s, d) =>
      // per-doc contribution of first-seen trigrams (min-doc-id
      // attribution): dup docs score 0, fresh content scores high
      Dedup.noveltyScores(rd(s, d, "documents")),
      (s"WITH ${OracleSql.wordTriCtes}, " +
        "fs AS (SELECT g, min(doc_id) AS first_id FROM tri GROUP BY g), " +
        "nv AS (SELECT first_id AS doc_id, count(*) AS n_novel FROM fs GROUP BY 1) " +
        "SELECT sz.doc_id, sz.n AS n_grams, CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel, " +
        "CAST(coalesce(nv.n_novel, 0) * 1000000 // sz.n AS BIGINT) AS novelty_ppm " +
        "FROM sz LEFT JOIN nv ON nv.doc_id = sz.doc_id")),
    Gate("decontaminate_ngram", (s, d) => {
      // overlap form: >= 2 shared trigrams with the eval slice (docs
      // 0-19) drops the row — catches partial quotes, not just copies
      val docs = rd(s, d, "documents")
      Dedup.removeContaminatedNgram(docs, docs.filter(col("doc_id") < 20),
        n = 3, minShared = 2)
        .select("doc_id", "source", "n_chars")
    },
      (s"WITH ${OracleSql.wordTriCtes}, " +
        "eg AS (SELECT DISTINCT g FROM tri WHERE doc_id < 20), " +
        "cont AS (SELECT t.doc_id FROM tri t JOIN eg ON t.g = eg.g " +
        "GROUP BY t.doc_id HAVING count(*) >= 2) " +
        "SELECT doc_id, source, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM cont)")),
    Gate("dedup_minhash_lsh", (s, d) =>
      // portable hash family -> the oracle replays the full LSH pipeline
      Dedup.minHashLsh(rd(s, d, "documents"), 16, 8, 1, 50, portable = true),
      OracleSql.dedupMinhashLsh(16, 8, 1, 50)),
    Gate("dedup_incremental", (s, d) => {
      // the daily-ingest shape: docs <100 arrive as the delta and dedup
      // against the historical corpus through its persisted MinHash
      // index — signatures O(delta), corpus text touched only for
      // candidates. The oracle is the FULL LSH run restricted to pairs
      // touching the delta, proving incremental == from-scratch.
      val docs = rd(s, d, "documents")
      val delta = docs.filter(col("doc_id") < 100)
      val corpus = docs.filter(col("doc_id") >= 100)
      val index = Dedup.buildMinHashIndex(corpus, 16, 8, portable = true)
      Dedup.dedupDeltaAgainstIndex(delta, corpus, index, 16, 8, 1, 50,
        portable = true)
    },
      // incremental == from-scratch: the oracle reruns the whole-corpus
      // LSH and keeps only pairs with a delta (<100) member
      (s"SELECT * FROM (${OracleSql.dedupMinhashLsh(16, 8, 1, 50)}) " +
        "WHERE id_a < 100 OR id_b < 100")),
    Gate("dedup_index_deleted", (s, d) => {
      // RIGHT-TO-BE-FORGOTTEN on the dedup index: corpus docs
      // (id % 7 == 3) purge from the band index, and the purged index
      // serves the delta dedup EXACTLY as an index rebuilt from the
      // survivors — LSH pair extraction is pairwise, so purge == rebuild
      // structurally, and the oracle (survivor-LSH restricted to pairs
      // touching the delta) proves it on the hash
      val docs = rd(s, d, "documents")
      val delta = docs.filter(col("doc_id") < 100)
      val corpus = docs.filter(col("doc_id") >= 100)
      val deleted = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
      val purged = Dedup.deleteFromMinHashIndex(
        Dedup.buildMinHashIndex(corpus, 16, 8, portable = true), deleted)
      val corpusLive = corpus.join(deleted, Seq("doc_id"), "left_anti")
      Dedup.dedupDeltaAgainstIndex(delta, corpusLive, purged, 16, 8, 1, 50,
        portable = true)
    },
      // survivor-LSH restricted to delta-touching pairs: pair stats are
      // pairwise, so dropping deleted docs from the full pair set IS the
      // rebuild-from-survivors result
      (s"SELECT * FROM (${OracleSql.dedupMinhashLsh(16, 8, 1, 50)}) " +
        "WHERE (id_a < 100 OR id_b < 100) " +
        "AND NOT (id_a >= 100 AND id_a % 7 = 3) " +
        "AND NOT (id_b >= 100 AND id_b % 7 = 3)")),
    Gate("dedup_simhash", (s, d) => {
      // portable signatures (oracle-replayed); pair extraction in tests
      val docs = rd(s, d, "documents")
      Dedup.simHashSignatures(docs, portable = true)
    },
      OracleSql.dedupSimhash),
    Gate("dedup_blocking_recall", (s, d) =>
      // the banding TUNING CURVE: recall of the true near-dup pairs vs
      // unverified candidate volume at 2/4/8 bands — how the curator
      // picks the blocking point before burning verification compute.
      // Truth = the shared staged exact-Jaccard pairs at the same 1/20
      // threshold (the scan itself is dedup_ngram_jaccard's subject);
      // this gate times signatures + banding + the recall joins
      Dedup.blockingRecallReportWithTruth(rd(s, d, "documents"),
        sharedPairs(s, d).select("id_a", "id_b"),
        numHashes = 16, bandCounts = Seq(2, 4, 8)),
      OracleSql.dedupBlockingRecall(16, Seq(2, 4, 8), 1, 20)),
    Gate("dedup_span_excise", (s, d) =>
      // substring-level dedup: every 10-token span seen >=2x globally is
      // cut from all but its first occurrence; docs reassembled
      Dedup.exciseRepeatedSpans(rd(s, d, "documents"), window = 10),
      OracleSql.exciseSpans(10)),
    Gate("dedup_embed_cosine", (s, d) =>
      Dedup.embeddingNearDup(rd(s, d, "embeddings"), 0.4),
      ("SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a JOIN embeddings b " +
        "ON a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4")),
    Gate("dedup_embed_lsh", (s, d) =>
      // bucketed scale tier of embedding near-dup (no cross join)
      Dedup.embeddingNearDupLsh(rd(s, d, "embeddings"), 0.4),
      OracleSql.dedupEmbedLsh(0.4)),
    Gate("dedup_embed_cluster", (s, d) =>
      // SemDeDup shape: k-means cells as candidate buckets, exact
      // cosine verify within cells only
      Dedup.embeddingNearDupClustered(rd(s, d, "embeddings"), 0.4,
        numCentroids = 8, refineIters = 2),
      OracleSql.dedupEmbedClustered("0.4", 8, 2)),
    Gate("dedup_clusters", (s, d) =>
      // pairs come from the shared staged pair table (dedup_ngram_jaccard
      // still times the identical pair scan from parquet); this gate
      // times the min-label cluster contraction itself
      Dedup.dedupClusters(sharedPairs(s, d)),
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node) " +
        "SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node")),
    Gate("dedup_source_matrix", (s, d) => {
      // which feeds mirror each other: near-dup pairs attributed to
      // their unordered source pair — the drop-a-feed diagnostic
      val docs = rd(s, d, "documents")
      Dedup.sourceOverlapMatrix(docs, sharedPairs(s, d))
    },
      (s"WITH $ngramCtes " +
        "SELECT least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b, count(*) AS n_pairs " +
        "FROM pairs p JOIN documents da ON da.doc_id = p.id_a " +
        "JOIN documents db ON db.doc_id = p.id_b GROUP BY 1, 2")),
    Gate("q_equi_depth_bins", (s, d) =>
      // quantile (equi-depth) discretization of order totals: 8 bins,
      // power-of-two so the percentile fractions are exact binary
      graft.operators.Quantiles.equiDepthBins(
        rd(s, d, "orders").select("o_orderkey", "o_totalprice"),
        "o_totalprice", nBins = 8),
      {
        val cuts = (1 until 8)
          .map(i => s"percentile_disc(${i.toDouble / 8}) WITHIN GROUP (ORDER BY o_totalprice) AS c$i")
          .mkString(", ")
        val bin = (1 until 8)
          .map(i => s"(CASE WHEN o_totalprice > c$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"WITH c AS (SELECT $cuts FROM orders) " +
          s"SELECT o_orderkey, o_totalprice, CAST($bin AS INT) AS bin FROM orders CROSS JOIN c"
      }),
    Gate("dedup_keep_list", (s, d) => {
      // the keep-decision closing the dedup loop: one best-copy
      // representative per near-dup cluster (longest doc, ties to the
      // smaller id), singletons kept — the full-corpus keep/drop flags.
      // Pairs come from the shared staged pair table (the pair scan is
      // dedup_ngram_jaccard's subject); this gate times clustering +
      // the survivor pick
      val docs = rd(s, d, "documents")
      Dedup.keepListFromClusters(docs, Dedup.dedupClusters(sharedPairs(s, d)))
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "reps AS (SELECT c.doc_id, c.cluster_id, row_number() OVER " +
        "(PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM cl c JOIN documents d ON d.doc_id = c.doc_id) " +
        "SELECT d.doc_id, r.cluster_id, " +
        "CAST(CASE WHEN r.doc_id IS NULL OR r.rn = 1 THEN 1 ELSE 0 END AS INT) AS keep_flag " +
        "FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id")),
    Gate("dedup_rate_report", (s, d) => {
      // the dedup effectiveness dashboard: per source, docs/chars in vs
      // kept, drop rate in exact integer ppm — what a curation run
      // reports to justify its budget. Composes the keep-list with one
      // combinable aggregation
      val docs = rd(s, d, "documents")
      val keep = sharedKeepList(s, d)
      docs.join(keep.select("doc_id", "keep_flag"), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("keep_flag").cast("long")).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("keep_flag") === 1, col("n_chars")).otherwise(0L))
            .as("kept_chars"))
        .withColumn("drop_ppm",
          expr("(n_docs - n_kept) * 1000000 div n_docs"))
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "reps AS (SELECT c.doc_id, c.cluster_id, row_number() OVER " +
        "(PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM cl c JOIN documents d ON d.doc_id = c.doc_id), " +
        "kl AS (SELECT d.doc_id, d.source, d.n_chars, " +
        "CASE WHEN r.doc_id IS NULL OR r.rn = 1 THEN 1 ELSE 0 END AS keep_flag " +
        "FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(keep_flag) AS BIGINT) AS n_kept, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(CASE WHEN keep_flag = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars, " +
        "CAST((count(*) - sum(keep_flag)) * 1000000 // count(*) AS BIGINT) AS drop_ppm " +
        "FROM kl GROUP BY source")),
    Gate("pipeline_data_card", (s, d) => {
      // the release artifact: one row per source summarizing what ships
      // — volume (docs/chars/words), near-dup drop rate, and corpus
      // readability — composed from the SAME operators the pipeline
      // runs (keep-list dedup + readability counts), so the card can
      // never disagree with the pipeline it describes
      val docs = rd(s, d, "documents")
      val keep = sharedKeepList(s, d)
      val rate = docs.join(keep.select("doc_id", "keep_flag"), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("keep_flag").cast("long")).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("drop_ppm",
          expr("(n_docs - n_kept) * 1000000 div n_docs"))
      val rdbl = TextAnalysis.readabilityBySource(docs)
        .select(col("source"), col("sum_words"), col("flesch"))
      rate.join(rdbl, "source")
        .select("source", "n_docs", "n_kept", "drop_ppm", "sum_chars",
          "sum_words", "flesch")
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "reps AS (SELECT c.doc_id, c.cluster_id, row_number() OVER " +
        "(PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM cl c JOIN documents d ON d.doc_id = c.doc_id), " +
        "kl AS (SELECT d.doc_id, d.source, d.n_chars, " +
        "CASE WHEN r.doc_id IS NULL OR r.rn = 1 THEN 1 ELSE 0 END AS keep_flag " +
        "FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id), " +
        "rate AS (SELECT source, count(*) AS n_docs, CAST(sum(keep_flag) AS BIGINT) AS n_kept, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST((count(*) - sum(keep_flag)) * 1000000 // count(*) AS BIGINT) AS drop_ppm " +
        "FROM kl GROUP BY source), " +
        s"rdbl AS (${OracleSql.readabilityBySource}) " +
        "SELECT r.source, r.n_docs, r.n_kept, r.drop_ppm, r.sum_chars, " +
        "t.sum_words, t.flesch FROM rate r JOIN rdbl t ON t.source = r.source")),
    Gate("link_best_match", (s, d) => {
      // fuzzy record linkage: docs 0-49 each link to their most
      // trigram-similar doc in the 50+ corpus (scaled-integer Jaccard,
      // deterministic tie-break)
      val docs = rd(s, d, "documents")
      Dedup.bestJaccardMatch(
        docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50))
    },
      (s"WITH ${OracleSql.wordTriCtes}, " +
        "ov AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS inter FROM tri a JOIN tri b " +
        "ON a.g = b.g WHERE a.doc_id < 50 AND b.doc_id >= 50 GROUP BY 1, 2), " +
        "sc AS (SELECT ov.id_l, ov.id_r, ov.inter, sa.n + sb.n - ov.inter AS union_size, " +
        "ov.inter * 1000000000 // (sa.n + sb.n - ov.inter) AS score " +
        "FROM ov JOIN sz sa ON sa.doc_id = ov.id_l JOIN sz sb ON sb.doc_id = ov.id_r) " +
        "SELECT id_l AS doc_id, id_r AS match_id, inter, union_size, score FROM " +
        "(SELECT sc.*, row_number() OVER (PARTITION BY id_l ORDER BY score DESC, id_r) AS rn FROM sc) " +
        "WHERE rn = 1")),
    Gate("link_golden_record", (s, d) =>
      // survivorship after linkage: exact-content clusters collapse to
      // one canonical row; lang/source survive by per-attribute
      // majority (ties: highest count, then smallest value)
      Dedup.goldenRecords(
        rd(s, d, "documents").withColumn("cluster", md5(col("text"))),
        "cluster", "doc_id", Seq("lang", "source")),
      ("WITH cl AS (SELECT md5(text) AS cluster, doc_id, lang, source FROM documents), " +
        "lng AS (SELECT cluster, 'lang' AS attr, lang AS value FROM cl WHERE lang IS NOT NULL " +
        "UNION ALL SELECT cluster, 'source', source FROM cl WHERE source IS NOT NULL), " +
        "cnt AS (SELECT cluster, attr, value, count(*) AS n FROM lng GROUP BY 1, 2, 3), " +
        "win AS (SELECT cluster, attr, value, row_number() OVER " +
        "(PARTITION BY cluster, attr ORDER BY n DESC, value) AS rn FROM cnt), " +
        "maj AS (SELECT cluster, max(CASE WHEN attr = 'lang' THEN value END) AS lang, " +
        "max(CASE WHEN attr = 'source' THEN value END) AS source FROM win WHERE rn = 1 GROUP BY cluster), " +
        "canon AS (SELECT cluster, min(doc_id) AS canonical_id, count(*) AS n_members FROM cl GROUP BY cluster) " +
        "SELECT c.cluster, c.canonical_id, c.n_members, m.lang, m.source " +
        "FROM canon c LEFT JOIN maj m USING (cluster)")),
    Gate("graph_label_prop", (s, d) => {
      // semi-supervised auto-labeling: suppliers are seeded with their
      // nation key; parts (and any relabeled suppliers' neighbors)
      // adopt the majority label through the co-purchase graph
      val seeds = rd(s, d, "supplier")
        .select(col("s_suppkey").as("node"), col("s_nationkey").as("label"))
      graft.operators.Graph.labelPropagation(sharedCoEdges(s, d), seeds, iters = 2)
    },
      OracleSql.labelPropagation(iters = 2)),
    Gate("graph_kcore", (s, d) =>
      // density filter: the 32-core of the co-purchase graph (nodes
      // that keep >= 32 in-core neighbors after iterative peeling)
      graft.operators.Graph.kCore(sharedCoEdges(s, d), k = 32),
      OracleSql.kCore(k = 32, rounds = 6)),
    Gate("graph_bfs_dist", (s, d) => {
      // reachability radius: hop distance from every 5th supplier
      // through the undirected co-purchase graph, capped at 3 hops
      // (modulo seeds stay non-empty at every fixture scale)
      val seeds = rd(s, d, "supplier")
        .where(col("s_suppkey") % 5 === 0).select(col("s_suppkey").as("node"))
      graft.operators.Graph.bfsDistances(sharedCoEdges(s, d), seeds, maxHops = 3)
    },
      // independent formulation: a recursive CTE walks ALL paths up to
      // the hop cap and takes min(dist) — first principles, not a replay
      // of the frontier iteration
      ("WITH RECURSIVE raw AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS p FROM lineitem), " +
        "e AS (SELECT s AS src, p AS dst FROM raw UNION SELECT p, s FROM raw), " +
        "seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier WHERE s_suppkey % 5 = 0), " +
        "wlk(node, dist) AS (SELECT node, 0 FROM seeds " +
        "UNION SELECT e.dst, wlk.dist + 1 FROM wlk JOIN e ON e.src = wlk.node WHERE wlk.dist < 3) " +
        "SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM wlk GROUP BY node")),
    Gate("graph_ppr", (s, d) => {
      // personalized PageRank: teleport mass restricted to every 5th
      // supplier — influence as seen FROM the seed set; same
      // fixed-point integer discipline, same unrolled oracle replay
      val seeds = rd(s, d, "supplier")
        .where(col("s_suppkey") % 5 === 0).select(col("s_suppkey").as("node"))
      graft.operators.Graph.pageRankPersonalized(sharedCoEdges(s, d), seeds, iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(20)
    },
      OracleSql.pageRankPersonalizedTopK(iters = 3, topK = 20)),
    Gate("link_fuzzy_names", (s, d) => {
      // blocked edit-distance record linkage: part names block on
      // their noun (last token) COMPOSED with a length bucket
      // (floor(len/4), probe side expands ±1 bucket) — recall-exact
      // under dist <= 3, since |len_a - len_b| <= dist < 4 bounds the
      // bucket gap at 1, while cutting within-block candidate pairs
      // ~4x vs the noun block alone (the second blocking dimension
      // keeps pair counts bounded as the corpus grows; the
      // LevenshteinPrefilter rule cheapens the DP but not the pair
      // count). Each pair matches exactly once: the probe buckets are
      // distinct and the right side's home bucket is unique.
      linkFuzzyNamePairs(rd(s, d, "part"))
    },
      ("WITH n AS (SELECT DISTINCT p_name FROM part), " +
        "b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n) " +
        "SELECT a.p_name AS name_a, c.p_name AS name_b, " +
        "CAST(levenshtein(a.p_name, c.p_name) AS INT) AS dist " +
        "FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name " +
        "WHERE levenshtein(a.p_name, c.p_name) <= 3")),
    Gate("graph_pagerank", (s, d) =>
      // influence ranking on the undirected supplier<->part co-purchase
      // graph; fixed-point integer arithmetic so the power iteration
      // replays bit-for-bit in the oracle (part ids offset past the
      // supplier key range)
      graft.operators.Graph.pageRankFixed(sharedCoEdges(s, d), iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(20),
      OracleSql.pageRankTopK(iters = 3, topK = 20)),
    Gate("graph_sssp", (s, d) => {
      // cheapest-route radius: weighted shortest paths (≤ 3 edges)
      // from every 5th supplier through the co-purchase graph —
      // frontier Bellman-Ford, deterministic integer weights
      // 1 + (src+dst) % 7 shared with the oracle's bounded walk
      val e = sharedCoEdges(s, d)
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7)
      val seeds = rd(s, d, "supplier")
        .where(col("s_suppkey") % 5 === 0).select(col("s_suppkey").as("node"))
      graft.operators.Graph.ssspBounded(e, seeds, maxHops = 3)
    },
      // independent formulation: bounded recursive walk over ALL ≤3-edge
      // paths with a terminal min-fold — first principles, not a replay
      // of the frontier relaxation
      ("WITH RECURSIVE raw AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS p FROM lineitem), " +
        "e AS (SELECT s AS src, p AS dst, 1 + (s + p) % 7 AS w FROM raw " +
        "UNION SELECT p, s, 1 + (s + p) % 7 FROM raw), " +
        "seeds AS (SELECT DISTINCT s_suppkey AS node FROM supplier WHERE s_suppkey % 5 = 0), " +
        "wlk(node, dist, hops) AS (SELECT node, 0, 0 FROM seeds " +
        "UNION SELECT e.dst, wlk.dist + e.w, wlk.hops + 1 FROM wlk JOIN e ON e.src = wlk.node " +
        "WHERE wlk.hops < 3) " +
        "SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM wlk GROUP BY node")),
    Gate("graph_clustering", (s, d) =>
      // neighborhood density: local clustering coefficient on the same
      // capped 3-clique projection graph_triangles counts — cc_ppm =
      // 2e6·T div deg·(deg−1), NULL below deg 2; projection edges come
      // from the shared stage (sharedTriEdges), rows identical to the
      // inline derivation
      graft.operators.Graph.clusteringCoefficient(sharedTriEdges(s, d)),
      ("WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "r AS (SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rn FROM lp), " +
        "t3 AS (SELECT o, p, rn FROM r WHERE rn <= 3), " +
        "ed AS (SELECT DISTINCT x.p AS a, y.p AS b FROM t3 x JOIN t3 y " +
        "ON x.o = y.o AND x.rn < y.rn), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ed e1 " +
        "JOIN ed e2 ON e2.a = e1.b JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "cnt AS (SELECT node, count(*) AS n FROM (SELECT x AS node FROM tri " +
        "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY node), " +
        "deg AS (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM ed " +
        "UNION ALL SELECT b FROM ed) GROUP BY node) " +
        "SELECT deg.node, CAST(deg.deg AS BIGINT) AS deg, " +
        "CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles, " +
        "CASE WHEN deg.deg >= 2 THEN CAST(2000000 * coalesce(cnt.n, 0) " +
        "// (deg.deg * (deg.deg - 1)) AS BIGINT) END AS cc_ppm " +
        "FROM deg LEFT JOIN cnt ON cnt.node = deg.node")),
    Gate("graph_triangles", (s, d) => {
      // per-node triangle counts on the part co-purchase graph: each
      // order's 3 smallest parts form a clique (the capped bipartite
      // projection — bounded expansion per order, staged once as
      // sharedTriEdges), triangles appear where orders overlap;
      // counted via degree-ordered orientation
      graft.operators.Graph.triangleCounts(sharedTriEdges(s, d))
    },
      // independent formulation: the oracle counts triangles by the naive
      // ordered three-way join (a<b<c), so the degree-ordered orientation
      // is verified against first principles, not replayed
      ("WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "r AS (SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rn FROM lp), " +
        "t3 AS (SELECT o, p, rn FROM r WHERE rn <= 3), " +
        "ed AS (SELECT DISTINCT x.p AS a, y.p AS b FROM t3 x JOIN t3 y " +
        "ON x.o = y.o AND x.rn < y.rn), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ed e1 " +
        "JOIN ed e2 ON e2.a = e1.b JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "nodes AS (SELECT a AS node FROM ed UNION SELECT b FROM ed), " +
        "cnt AS (SELECT node, count(*) AS n FROM (SELECT x AS node FROM tri " +
        "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY node) " +
        "SELECT nd.node, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles " +
        "FROM nodes nd LEFT JOIN cnt ON cnt.node = nd.node")),
    Gate("decontaminate", (s, d) => {
      // benchmark decontamination: docs 0-19 act as the eval suite; any
      // corpus row with the same normalized content is dropped (here the
      // eval docs themselves — the self-contamination case)
      val docs = rd(s, d, "documents")
      Dedup.removeContaminated(docs, docs.filter(col("doc_id") < 20))
        .select("doc_id", "source", "n_chars")
    },
      ("SELECT doc_id, source, n_chars FROM documents WHERE " +
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) NOT IN " +
        "(SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) FROM documents WHERE doc_id < 20)")),
    Gate("decontaminate_bloom", (s, d) => {
      // the bloom-prefiltered scale tier: EXACT same output (blooms
      // have no false negatives; survivors are re-verified), so it
      // shares the decontaminate oracle SQL verbatim
      val docs = rd(s, d, "documents")
      Dedup.removeContaminatedBloom(docs, docs.filter(col("doc_id") < 20),
        expectedItems = 1000L)
        .select("doc_id", "source", "n_chars")
    },
      // same oracle as `decontaminate` — the bloom tier is exact
      ("SELECT doc_id, source, n_chars FROM documents WHERE " +
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) NOT IN " +
        "(SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) FROM documents WHERE doc_id < 20)")),

    // —— training-data pipeline: similarity search ——
    Gate("ann_brute_topk", (s, d) =>
      Similarity.bruteForceTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5),
      ("SELECT query_id, neighbor_id, rnk FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS INT) AS rnk " +
        "FROM embeddings a JOIN embeddings b ON b.vec_id >= 10 WHERE a.vec_id < 10) t WHERE rnk <= 5")),
    Gate("ann_filtered_brute", (s, d) =>
      // filtered vector search, oracle tier: the metadata predicate
      // restricts candidates BEFORE scoring — exact filtered top-k
      Similarity.bruteForceTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10 && col("label") === 3, 5),
      ("SELECT query_id, neighbor_id, rnk FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS INT) AS rnk " +
        "FROM embeddings a JOIN embeddings b ON b.vec_id >= 10 AND b.label = 3 WHERE a.vec_id < 10) t WHERE rnk <= 5")),
    Gate("ann_filtered_ivf", (s, d) =>
      // filtered vector search, scale tier: PRE-filter IVF — cells are
      // built over the filtered slice, so every probed candidate
      // already satisfies the predicate. The post-filter alternative
      // (probe unfiltered cells, discard mismatches) starves on
      // selective predicates: at 10% selectivity an unfiltered probe
      // must over-fetch ~10x to keep k survivors (candidate-starvation
      // spec pins this failure mode in SimilaritySpec)
      Similarity.ivfTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10 && col("label") === 3, 5,
        numCentroids = 16, nProbe = 4),
      OracleSql.annIvfTopK(5, numCentroids = 16, nProbe = 4,
        candWhere = "vec_id >= 10 AND label = 3")),
    Gate("ann_topk_agg", (s, d) =>
      Similarity.bruteForceTopKAgg(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5),
      ("SELECT query_id, neighbor_id, rnk FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS INT) AS rnk " +
        "FROM embeddings a JOIN embeddings b ON b.vec_id >= 10 WHERE a.vec_id < 10) t WHERE rnk <= 5")),
    Gate("ann_lsh_topk", (s, d) =>
      Similarity.lshTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5),
      OracleSql.annLshTopK(5)),
    Gate("knn_label_vote", (s, d) => {
      // auto-labeling: each query vector takes the majority label of its
      // 5 nearest candidates (ties: most votes, then smallest label)
      val emb = rd(s, d, "embeddings")
      val topk = Similarity.bruteForceTopK(emb, col("vec_id") < 10, col("vec_id") >= 10, 5)
      val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("label"))
      topk.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(w))
        .where(col("vr") === 1)
        .select(col("query_id"), col("label").as("pred_label"))
    },
      ("WITH topk AS (SELECT query_id, neighbor_id FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "row_number() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rnk " +
        "FROM embeddings a JOIN embeddings b ON b.vec_id >= 10 WHERE a.vec_id < 10) t WHERE rnk <= 5), " +
        "votes AS (SELECT k.query_id, e.label, count(*) AS votes FROM topk k JOIN embeddings e ON e.vec_id = k.neighbor_id GROUP BY 1, 2) " +
        "SELECT query_id, label AS pred_label FROM (SELECT query_id, label, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr FROM votes) v WHERE vr = 1")),
    Gate("text_probe_weights", (s, d) =>
      // learned data filter: batch-GD linear probe on hashed BoW
      // features; gradients rounded to ints BEFORE the reduction, so
      // training is partition-invariant and oracle-replayable
      TextAnalysis.trainLinearProbe(rd(s, d, "documents"),
        length(col("source")) === 4),
      OracleSql.probeWeights("length(source) = 4", buckets = 16, iters = 3,
        lr = 1.0 / 1024, scaleBits = 20, salt = "probe")),
    Gate("text_probe_scores", (s, d) =>
      TextAnalysis.probeScores(rd(s, d, "documents"),
        length(col("source")) === 4),
      OracleSql.probeScores("length(source) = 4", buckets = 16, iters = 3,
        lr = 1.0 / 1024, scaleBits = 20, salt = "probe")),
    Gate("text_probe_calibration", (s, d) =>
      // reliability diagram: fixed-width score bins, integer pos-rate —
      // min/max ride a broadcast 1-row agg, no global sort
      TextAnalysis.probeCalibration(rd(s, d, "documents"),
        length(col("source")) === 4),
      OracleSql.probeCalibration("length(source) = 4", bins = 10, buckets = 16,
        iters = 3, lr = 1.0 / 1024, scaleBits = 20, salt = "probe")),
    Gate("text_probe_pr_curve", (s, d) =>
      // precision/recall curve over bin thresholds: cumulation runs on
      // the bins-row table (self-join), never over the corpus
      TextAnalysis.probePrCurve(rd(s, d, "documents"),
        length(col("source")) === 4),
      OracleSql.probePrCurve("length(source) = 4", bins = 10, buckets = 16,
        iters = 3, lr = 1.0 / 1024, scaleBits = 20, salt = "probe")),
    Gate("text_probe_threshold", (s, d) =>
      // deployment pick: loosest threshold with precision >= 52%
      TextAnalysis.probeThreshold(rd(s, d, "documents"),
        length(col("source")) === 4, targetPrecisionPpm = 520000L),
      OracleSql.probeThreshold("length(source) = 4", targetPrecisionPpm = 520000L,
        bins = 10, buckets = 16, iters = 3, lr = 1.0 / 1024, scaleBits = 20,
        salt = "probe")),
    Gate("eval_ann_metrics", (s, d) =>
      // ANN recall-drift watchdog: per-query recall@5 and RR of the
      // LSH/IVF tiers vs the exact top-5, all integer ppm
      Similarity.annEvalMetrics(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, k = 5),
      OracleSql.annEvalMetrics(k = 5)),
    Gate("emb_prefix_recall", (s, d) =>
      // matryoshka truncation eval: rank the SAME IVF pool by full
      // 64-dim and first-16-dim cosine, overlap@5 per query — the
      // "can we serve quarter-width vectors" gate, cartesian-free
      Similarity.prefixDimRecall(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10,
        poolK = 12, k = 5, prefixDim = 16),
      OracleSql.prefixRecallIvf(
        poolK = 12, k = 5, prefixDim = 16, numCentroids = 16, nProbe = 4)),
    Gate("eval_probe_auc", (s, d) =>
      // the probe's promotion metric: exact ties-aware ROC AUC =
      // U+/(n+ n-), riding the same bucketed rank prefix as the
      // rank-sum test — no threshold sweep, no curve materialization
      Stats.aucFromScores(
        TextAnalysis.probeScores(rd(s, d, "documents"),
          length(col("source")) === 4),
        col("score_ppm"), col("y") === 1),
      (s"WITH scores AS (${OracleSql.probeScores("length(source) = 4",
        buckets = 16, iters = 3, lr = 1.0 / 1024, scaleBits = 20,
        salt = "probe")}) " +
        Stats.aucFromScoresSql("scores", "score_ppm", "y = 1"))),
    Gate("search_mmr_rerank", (s, d) => {
      // PRODUCTION diversity re-rank: IVF-tier candidates (top-12 per
      // query from the probed cells) -> greedy MMR (4 picks,
      // lambda=0.7). Cartesian-free end to end: pool generation is the
      // IVF equi-join, relevance is two keyed joins over |Q|*poolK
      // pairs, rounds are the keyed poolK^2 cogroup
      val emb = rd(s, d, "embeddings")
      val pool = Similarity.ivfTopK(emb, col("vec_id") < 10,
        col("vec_id") >= 10, k = 12, numCentroids = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id").as("cand_id"))
      Similarity.mmrRerankFromPool(emb, pool, k = 4)
    },
      OracleSql.mmrRerankIvf(k = 4, poolK = 12, lambda = 0.7,
        numCentroids = 16, nProbe = 4)),
    Gate("search_mmr_exact_pool", (s, d) =>
      // the labeled oracle tier: same greedy rerank over the EXACT
      // top-12 cosine pool (|Q|x|C| cross join — sample-scale only;
      // production is search_mmr_rerank's ANN composition)
      Similarity.mmrRerank(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, k = 4, poolK = 12),
      OracleSql.mmrRerank(k = 4, poolK = 12, lambda = 0.7)),
    Gate("class_centroid_assign", (s, d) =>
      // nearest-class-centroid auto-labeling: exact-integer prototypes
      // from the seed slice (vec_id % 5 == 0), broadcast to a map-side
      // explode + one combinable (vector, class) sum — no collect
      Similarity.classifyByCentroid(rd(s, d, "embeddings"),
        col("vec_id") % 5 === 0),
      OracleSql.classifyByCentroid("vec_id % 5 = 0")),
    Gate("class_centroid_confusion", (s, d) =>
      // the promotion-gate report: confusion matrix of the centroid
      // classifier on the held-out 4/5 of the corpus
      Similarity.centroidConfusion(rd(s, d, "embeddings"),
        col("vec_id") % 5 === 0),
      OracleSql.centroidConfusion("vec_id % 5 = 0")),
    Gate("ann_ivf_topk", (s, d) =>
      Similarity.ivfTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5, numCentroids = 16, nProbe = 4),
      OracleSql.annIvfTopK(5, numCentroids = 16, nProbe = 4)),
    Gate("ann_ivf_deleted", (s, d) => {
      // RIGHT-TO-BE-FORGOTTEN on the PERSISTED IVF index: build once
      // (content-addressed under target/), purge vec_id % 5 == 2 from
      // the stored cell table, probe through the purged index — no
      // deleted id can ever surface again, and the oracle rebuilds
      // membership from the survivors under the same frozen centroids
      // (the purge == rebuild equivalence the frozen-centroid
      // lifecycle guarantees; spec-pinned in SimilaritySpec)
      import graft.sources.Warehouse
      val emb = rd(s, d, "embeddings")
      // v2: the seed pick moved to avalanched md5 order; v3: the cell
      // table layout moved to cell-partitioned directories — bust the
      // persisted index so on-disk state matches the current writers
      val (dir, tbl) = Artifacts.fold(s, d, s"ivfdel_v3_${contentEpoch(emb, "vec_id")}") { (dir, tbl) =>
        if (!Warehouse.exists(s, dir, s"${tbl}_cells"))
          Similarity.buildIvfIndex(emb, col("vec_id") >= 10, dir, tbl,
            numCentroids = 16)
        Similarity.deleteFromIvfIndex(s, dir, tbl,
          emb.where(col("vec_id") >= 10 && col("vec_id") % 5 === 2)
            .select("vec_id"))
      }
      Similarity.ivfTopKIndexed(emb.where(col("vec_id") < 10), dir, tbl,
        k = 5, nProbe = 4)
    },
      OracleSql.annIvfTopKDeleted(5, numCentroids = 16, nProbe = 4,
        deletedWhere = "vec_id % 5 = 2")),
    Gate("ann_ivf_pruned_io", (s, d) => {
      // the scale evidence for the cell-partitioned index layout: a
      // probe's FILE footprint is bounded by its probed cells (loud
      // require inside ivfProbeIoReport — every file read lies under a
      // probed cell= partition, and strictly fewer files than the index
      // holds whenever fewer cells than exist are probed), and the
      // probed-cell KEY SET the footprint is bounded by is replayed by
      // the DuckDB oracle — the ANN twin of merge5m's
      // mor_base_files_read evidence
      import graft.sources.Warehouse
      val emb = rd(s, d, "embeddings")
      val (dir, tbl) = Artifacts.fold(s, d, s"ivfio_v1_${contentEpoch(emb, "vec_id")}") { (dir, tbl) =>
        if (!Warehouse.exists(s, dir, s"${tbl}_cells"))
          Similarity.buildIvfIndex(emb, col("vec_id") >= 10, dir, tbl,
            numCentroids = 16)
      }
      Similarity.ivfProbeIoReport(emb.where(col("vec_id") < 10), dir, tbl,
        nProbe = 1)
    },
      OracleSql.annIvfProbedCells(numCentroids = 16, nProbe = 1)),
    Gate("ann_ivf_recentroid", (s, d) => {
      // CELL-LOCAL re-Lloyd (the anti-entropy repair for drifted IVF
      // cells, replacing the full rebuild): cells 1-4 are flagged
      // dirty, Lloyd re-runs on ONLY their members, the slice is
      // reassigned among the refreshed centroids, and the clean cells'
      // partition files are required byte-untouched (name+len+mtime
      // snapshot) — the u8_bucket_repair pattern applied to the ANN
      // index. The gate serves top-k through the repaired index; the
      // oracle independently replays pick → assign → local Lloyd →
      // reassign → probe
      import graft.sources.Warehouse
      val emb = rd(s, d, "embeddings")
      val dirtyCells = Seq(1L, 2L, 3L, 4L)
      val (dir, tbl) = Artifacts.fold(s, d, s"ivfrc_v1_${contentEpoch(emb, "vec_id")}") { (dir, tbl) =>
        // marker-guarded: build + repair land as one idempotent unit —
        // a crash between them re-runs both on the next attempt
        if (!Warehouse.exists(s, dir, s"${tbl}_rcdone")) {
          Similarity.buildIvfIndex(emb, col("vec_id") >= 10, dir, tbl,
            numCentroids = 16)
          def cleanStats(): Set[(String, Long, Long)] =
            Warehouse.listDataFiles(s, dir, s"${tbl}_cells")
              .filterNot(f => dirtyCells.exists(c => f.contains(s"/cell=$c/")))
              .map { f =>
                val p = new org.apache.hadoop.fs.Path(f)
                val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
                  .getFileStatus(p)
                (f, st.getLen, st.getModificationTime)
              }.toSet
          val before = cleanStats()
          Similarity.recentroidCells(s, dir, tbl, dirtyCells, iters = 2)
          require(cleanStats() == before,
            "cell-local re-Lloyd must leave clean cells' files byte-untouched")
          Warehouse.overwrite(s.range(1).toDF("done"), dir, s"${tbl}_rcdone")
        }
      }
      Similarity.ivfTopKIndexed(emb.where(col("vec_id") < 10), dir, tbl,
        k = 5, nProbe = 4)
    },
      OracleSql.annIvfRecentroidTopK(
        k = 5, numCentroids = 16, nProbe = 4, nDirty = 4, iters = 2)),
    Gate("ann_ivf_recall_drift", (s, d) => {
      // recall drift -> rebuild trigger, measured: the corpus is
      // label-anchored into moderate clusters (anchor +1.0 on dim
      // label*6, noise = the raw embedding — wide enough that argmax
      // cell assignment under FOREIGN centroids splits a cluster, the
      // drift failure mode); the drifted delta anchors on DISJOINT
      // dims (label*6+3, reversed noise) and joined through the
      // frozen-centroid append path; queries come from the drifted
      // distribution. The report probes them through the STALE tier
      // (seeds + Lloyd never saw the delta, membership = full corpus —
      // exactly the build+append state) and a REBUILT tier (re-seed +
      // re-Lloyd on today's corpus), scores both against exact brute
      // truth, and flags the stale tier past the threshold — the
      // machine-checked "re-Lloyd when recall degrades" lifecycle
      val emb = rd(s, d, "embeddings")
      def anch(src: DataFrame, off: Int, rev: Boolean): DataFrame = {
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
      Similarity.ivfRecallDriftReport(uni,
        col("vec_id") < 10, col("vec_id") >= 10,
        col("vec_id") >= 10 && col("vec_id") < 1000000L,
        k = 10, nProbe = 1, numCentroids = 16, flagBelowPpm = 600000L)
    },
      OracleSql.annIvfRecallDrift(
        k = 10, nProbe = 1, numCentroids = 16, iters = 2, flagBelowPpm = 600000L)),
    Gate("ann_range_search", (s, d) =>
      // radius form of the IVF tier: every probed pair with cosine
      // >= 0.3 — bounds result QUALITY where top-k bounds COUNT; the
      // cell equi-join keeps it off the |Q|x|C| brute path
      Similarity.ivfRangeSearch(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 0.3,
        numCentroids = 8, nProbe = 4),
      OracleSql.annRangeSearch("0.3", numCentroids = 8, nProbe = 4)),
    Gate("ann_pq_topk", (s, d) =>
      // product-quantization tier: m byte-codes per vector + per-query
      // LUTs (asymmetric distance), exact re-rank of the short list —
      // the 32x memory-compression scale path; oracle replays the
      // whole pipeline including the fixed-order ADC sum
      Similarity.pqTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5),
      OracleSql.annPqTopK(5)),
    Gate("ann_pq_topk_std", (s, d) =>
      // the SAME PQ tier at the STANDARD operating point (m=8
      // subspaces, 256-entry books — the FAISS-default PQ8x8 shape a
      // deployment runs; ann_pq_topk's m=4/K=16 demonstrates the
      // construction cheaply); oracle replays the full 8-subspace
      // 256-entry train + encode + ADC pipeline
      Similarity.pqTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5, m = 8, codebookSize = 256),
      OracleSql.annPqTopK(5, m = 8, codebookSize = 256)),
    Gate("ann_ivf_pq_topk", (s, d) =>
      // the composed production tier: IVF cells bound WHICH vectors
      // are scored, PQ codes bound WHAT a score costs; exact re-rank
      // of the short list
      Similarity.ivfPqTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5,
        numCentroids = 8, nProbe = 4),
      OracleSql.annIvfPqTopK(5, numCentroids = 8, nProbe = 4)),
    Gate("ann_ivfpq_indexed", (s, d) => {
      // the SAME composed tier served from its PERSISTED form: codes
      // table (m codes per vector, NO raw vectors, partitioned by
      // cell), codebooks + centroids artifacts; the probe prunes to
      // probed cell partitions and only the refine survivors fetch
      // raw vectors from the corpus by id — the full billion-scale
      // serving layout, row-identical to the in-plan tier (same
      // oracle)
      val emb = rd(s, d, "embeddings")
      val (dir, tbl) = ivfPqIndex(s, d, emb)
      Similarity.ivfPqTopKIndexed(emb.where(col("vec_id") < 10),
        dir, tbl, k = 5, nProbe = 4)
    },
      // the persisted form serves the identical result (frozen-artifact
      // lifecycle) — the same full-pipeline replay is its oracle
      OracleSql.annIvfPqTopK(5, numCentroids = 8, nProbe = 4)),
    Gate("ann_ivfpq_rerank_io", (s, d) => {
      // the scale evidence that the persisted probe's EXACT RE-RANK is
      // point-fetch-shaped, not corpus-scan-shaped: the survivors' raw
      // vectors come from the index's id-bucketed _vectors projection
      // as a partition-pruned read (loud require inside
      // ivfPqRerankIoReport — every file read lies under a survivor
      // idb= bucket, strictly fewer files than the projection holds),
      // and the survivor-bucket KEY SET that footprint is bounded by
      // is replayed by the DuckDB oracle — the re-rank twin of
      // ann_ivf_pruned_io
      val emb = rd(s, d, "embeddings")
      val (dir, tbl) = ivfPqIndex(s, d, emb)
      Similarity.ivfPqRerankIoReport(emb.where(col("vec_id") < 10), dir, tbl,
        nProbe = 2, refine = 8)
    },
      OracleSql.annIvfPqRerankBuckets(
        numCentroids = 8, nProbe = 2, refine = 8)),
    Gate("ann_ivfpq_deleted", (s, d) => {
      // RIGHT-TO-BE-FORGOTTEN on the persisted IVF-PQ index: purge
      // vec_id % 5 == 2's code rows (artifacts stay frozen — aggregate
      // statistics, not per-vector data), probe through the purged
      // index; the oracle rebuilds serving membership from the
      // survivors under the same full-corpus-trained artifacts
      import graft.sources.Warehouse
      val emb = rd(s, d, "embeddings")
      val (dir, tbl) = Artifacts.fold(s, d, s"ivfpqdel_v2_${contentEpoch(emb, "vec_id")}") { (dir, tbl) =>
        if (!Warehouse.exists(s, dir, s"${tbl}_vectors"))
          Similarity.buildIvfPqIndex(emb, col("vec_id") >= 10, dir, tbl,
            numCentroids = 8)
        Similarity.deleteFromIvfPqIndex(s, dir, tbl,
          emb.where(col("vec_id") >= 10 && col("vec_id") % 5 === 2)
            .select("vec_id"))
      }
      Similarity.ivfPqTopKIndexed(emb.where(col("vec_id") < 10),
        dir, tbl, k = 5, nProbe = 4)
    },
      OracleSql.annIvfPqTopK(5, numCentroids = 8, nProbe = 4,
        deletedWhere = "c0.vec_id % 5 = 2")),
    Gate("ann_ivfpq_retrained", (s, d) => {
      // CODEBOOK drift repair on the persisted IVF-PQ index (the
      // codebook analog of ann_ivf_recentroid): cells 1-2 are flagged
      // drifted, per-subspace Lloyd re-runs on ONLY their residuals
      // (seeded from the trained global book), the refreshed books
      // land as per-cell overrides, only the dirty cells' code
      // partitions re-encode — clean partitions required
      // byte-untouched (name+len+mtime snapshot) — and the probe
      // decodes each cell against the book it serves with. The oracle
      // independently replays global train → per-cell retrain →
      // re-encode → per-book ADC → exact re-rank
      import graft.sources.Warehouse
      val emb = rd(s, d, "embeddings")
      val dirtyCells = Seq(1L, 2L)
      val (dir, tbl) = Artifacts.fold(s, d, s"ivfpqrt_v1_${contentEpoch(emb, "vec_id")}") { (dir, tbl) =>
        // marker-guarded: build + repair land as one idempotent unit
        if (!Warehouse.exists(s, dir, s"${tbl}_rtdone")) {
          Similarity.buildIvfPqIndex(emb, col("vec_id") >= 10, dir, tbl,
            numCentroids = 8)
          def cleanStats(): Set[(String, Long, Long)] =
            Warehouse.listDataFiles(s, dir, s"${tbl}_pqcodes")
              .filterNot(f => dirtyCells.exists(c => f.contains(s"/cell=$c/")))
              .map { f =>
                val p = new org.apache.hadoop.fs.Path(f)
                val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
                  .getFileStatus(p)
                (f, st.getLen, st.getModificationTime)
              }.toSet
          val before = cleanStats()
          Similarity.retrainPqCellBooks(s, dir, tbl, dirtyCells, trainIters = 2)
          require(cleanStats() == before,
            "codebook repair must leave clean cells' code files byte-untouched")
          Warehouse.overwrite(s.range(1).toDF("done"), dir, s"${tbl}_rtdone")
        }
      }
      Similarity.ivfPqTopKIndexed(emb.where(col("vec_id") < 10),
        dir, tbl, k = 5, nProbe = 4)
    },
      OracleSql.annIvfPqRetrainedTopK(
        5, numCentroids = 8, nProbe = 4, nDirty = 2, cellIters = 2)),
    Gate("stage_ivfpq_build", (s, d) => {
      // MV-REFRESH gate for the persisted IVF-PQ index the ann_ivfpq_*
      // gates serve from: a FULL index build from the parquet corpus
      // into a scratch table on EVERY invocation (no exists guard) —
      // so the index build cost is paid and reported inside the timed
      // region of every bench run (Bench additionally wipes stage_*
      // and ivf* artifacts at startup). Returns the built artifact's
      // per-cell occupancy read back from the codes table; the oracle
      // independently replays the coarse k-means assignment
      import graft.sources.Warehouse
      val emb = rd(s, d, "embeddings")
      val dir = Artifacts.dir(d)
      val tbl = "stage_ivfpq_refresh"
      Similarity.buildIvfPqIndex(emb, col("vec_id") >= 10, dir, tbl,
        numCentroids = 8)
      Warehouse.read(s, dir, s"${tbl}_pqcodes")
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_vectors"))
    },
      OracleSql.annIvfPqBuildCells(numCentroids = 8)),
    Gate("ann_ivf_refined_topk", (s, d) =>
      // same index with 2 fixed-point Lloyd iterations moving the seeded
      // picks onto real cluster centers; the oracle replays the k-means
      Similarity.ivfTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, 5, numCentroids = 16, nProbe = 4,
        refineIters = 2),
      OracleSql.annIvfRefinedTopK(5, numCentroids = 16, nProbe = 4, iters = 2)),
    Gate("ann_ivf_cell_stats", (s, d) =>
      // the staleness trigger for the incremental IVF lifecycle:
      // per-cell occupancy, imbalance, and the centroid-cosine recall
      // proxy — the report that decides when to re-Lloyd the index
      Similarity.ivfCellStats(rd(s, d, "embeddings"),
        col("vec_id") >= 10, numCentroids = 16),
      OracleSql.annIvfCellStats(numCentroids = 16)),
    Gate("emb_sq8_codes", (s, d) =>
      // the SQ8 scalar quantizer itself, exploded (vec_id, dim, code):
      // per-dimension min/max grid + fixed-order affine rounding —
      // the int8 codec a memory-tiered vector store trains per corpus
      Similarity.sqCodes(rd(s, d, "embeddings"), col("vec_id") >= 10),
      OracleSql.embSqCodes("vec_id >= 10")),
    Gate("ann_sq8_ivf_topk", (s, d) =>
      // the memory-tier ANN composition: IVF cells bound the probe,
      // candidates stored as int8 codes (4x smaller), scoring is
      // asymmetric (raw query vs decoded candidate, Faiss SQ style)
      Similarity.sqIvfTopK(rd(s, d, "embeddings"),
        col("vec_id") < 10, col("vec_id") >= 10, k = 5,
        numCentroids = 16, nProbe = 4),
      OracleSql.annSqIvfTopK(k = 5, numCentroids = 16, nProbe = 4)),
    Gate("emb_drift_report", (s, d) =>
      // encoder/corpus drift monitor: per-dimension exact fixed-point
      // mean shift between two corpus slices — which dims moved, by
      // how much, all partition-order-independent integers
      Similarity.embDriftReport(rd(s, d, "embeddings"),
        col("vec_id") % 2 === 0, col("vec_id") % 2 === 1),
      ("WITH x AS (SELECT vec_id, CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS dim, " +
        "unnest(embedding) AS v FROM embeddings), " +
        "q AS (SELECT vec_id, dim, CAST(round(CAST(v AS DOUBLE) * 16777216.0) AS BIGINT) AS fp FROM x), " +
        "a AS (SELECT dim, count(*) AS n_base, CAST(sum(fp) AS BIGINT) AS sum_fp_base FROM q WHERE vec_id % 2 = 0 GROUP BY dim), " +
        "b AS (SELECT dim, count(*) AS n_new, CAST(sum(fp) AS BIGINT) AS sum_fp_new FROM q WHERE vec_id % 2 = 1 GROUP BY dim) " +
        "SELECT a.dim, n_base, n_new, sum_fp_base, sum_fp_new, " +
        "CAST(sum_fp_base * n_new - sum_fp_new * n_base AS BIGINT) AS shift_num " +
        "FROM a JOIN b ON a.dim = b.dim")),

    // —— training-data pipeline: text analysis ——
    Gate("text_lang_id", (s, d) => TextAnalysis.langId(rd(s, d, "documents")),
      langIdSql),
    Gate("text_lang_confusion", (s, d) =>
      // how good is the heuristic classifier per language — the
      // labeled-vs-predicted confusion matrix
      TextAnalysis.langId(rd(s, d, "documents"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n")),
      // classifier evaluation: confusion matrix of labeled vs predicted
      // language — reuses the langId replay as a subquery
      (s"SELECT lang, pred_lang, count(*) AS n FROM ($langIdSql) GROUP BY 1, 2")),
    Gate("text_quality", (s, d) => TextAnalysis.qualitySignals(rd(s, d, "documents")),
      ("SELECT doc_id, CAST(length(text) AS INT) AS n_chars_measured, " +
        "CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS INT) AS n_tokens, " +
        s"${occSql("text", ".")} + ${occSql("text", ",")} AS punct_hits, " +
        s"${occSql("' ' || lower(trim(text)) || ' '", " the ")} + ${occSql("' ' || lower(trim(text)) || ' '", " a ")} AS stopword_hits " +
        "FROM documents")),
    Gate("quality_composite", (s, d) =>
      // the one calibrated number mixers sort by: min-max-normalized
      // length / diversity / stopword signals fused by integer mean —
      // zero-shuffle signals + one broadcast bounds aggregate
      TextAnalysis.compositeQuality(rd(s, d, "documents")),
      ("WITH b AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tok, " +
        "' ' || lower(trim(text)) || ' ' AS pad FROM documents), " +
        "s AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS l, " +
        "CAST(len(list_distinct(tok)) AS BIGINT) * 1000000 // len(tok) AS dv, " +
        s"CAST(${occSql("pad", " the ")} + ${occSql("pad", " a ")} AS BIGINT) * 1000000 // len(tok) AS st FROM b), " +
        "m AS (SELECT min(l) AS ln, max(l) AS lx, min(dv) AS dn, max(dv) AS dx, " +
        "min(st) AS sn, max(st) AS sx FROM s), " +
        "n AS (SELECT doc_id, " +
        "CASE WHEN lx = ln THEN 0 ELSE (l - ln) * 1000000 // (lx - ln) END AS len_norm_ppm, " +
        "CASE WHEN dx = dn THEN 0 ELSE (dv - dn) * 1000000 // (dx - dn) END AS div_norm_ppm, " +
        "CASE WHEN sx = sn THEN 0 ELSE (st - sn) * 1000000 // (sx - sn) END AS stop_norm_ppm " +
        "FROM s, m) " +
        "SELECT doc_id, len_norm_ppm, div_norm_ppm, stop_norm_ppm, " +
        "(len_norm_ppm + div_norm_ppm + stop_norm_ppm) // 3 AS composite_ppm FROM n")),
    Gate("text_tokens", (s, d) => TextAnalysis.tokenStats(rd(s, d, "documents")),
      ("SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS INT) AS n_tokens, " +
        "CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS INT) AS n_distinct_tokens " +
        "FROM documents")),
    Gate("text_fingerprint", (s, d) => TextAnalysis.fingerprint(rd(s, d, "documents")),
      "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint FROM documents"),
    Gate("text_rolling_fp", (s, d) => TextAnalysis.rollingFingerprint(rd(s, d, "documents")),
      OracleSql.textRollingFp),
    Gate("text_bpe_tokens", (s, d) => TextAnalysis.bpeTokenCount(rd(s, d, "documents")),
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) " +
        "AS n_bpeish_tokens FROM documents")),
    Gate("bpe_pair_stats", (s, d) =>
      // tokenizer training's inner loop: corpus-wide character-pair
      // frequencies (the next BPE merge = the top row)
      TextAnalysis.bpePairStats(rd(s, d, "documents"), topK = 25),
      ("WITH wrd AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "pr AS (SELECT unnest([substr(w, i, 2) FOR i IN generate_series(1, greatest(length(w), 1))]) AS pair FROM wrd) " +
        "SELECT pair, count(*) AS n FROM pr WHERE length(pair) = 2 " +
        "GROUP BY pair ORDER BY n DESC, pair LIMIT 25")),
    Gate("bpe_train_merges", (s, d) =>
      // the full greedy BPE merge loop: 6 rounds of count → argmax →
      // corpus-wide fuse; output is the learned merge table
      TextAnalysis.bpeTrainMerges(rd(s, d, "documents"), rounds = 6),
      OracleSql.bpeTrainMerges(rounds = 6)),
    Gate("text_doc_lm_score", (s, d) =>
      // CCNet-shape quality scoring: mean corpus-LM bigram probability
      // per doc, exact integer ppm (docs with <2 tokens omitted)
      TextAnalysis.docLmScore(rd(s, d, "documents")),
      (s"WITH $knLmCtes " +
        "SELECT bg.doc_id, count(*) AS n_bigrams, CAST(sum(kn_ppm) AS BIGINT) AS sum_kn_ppm, " +
        "CAST(sum(kn_ppm) // count(*) AS BIGINT) AS avg_kn_ppm " +
        "FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2 GROUP BY 1")),
    Gate("text_importance", (s, d) =>
      // DSIR data selection: hashed-bucket target/raw ratio weights
      // (target = English slice), per-doc mean in exact integer ppm
      TextAnalysis.importanceScores(rd(s, d, "documents"), col("lang") === "en"),
      (s"WITH ${OracleSql.dsirCtes("lang = 'en'", 1024, "dsir")} " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(score_ppm AS BIGINT) AS score_ppm FROM dsc")),
    Gate("sample_importance", (s, d) => {
      // the resampling half of DSIR: top-100 off-target docs by
      // importance score — the docs that most resemble the target
      val docs = rd(s, d, "documents")
      TextAnalysis.importanceScores(docs, col("lang") === "en")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .filter(col("lang") =!= "en")
        .orderBy(col("score_ppm").desc, col("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "score_ppm")
    },
      (s"WITH ${OracleSql.dsirCtes("lang = 'en'", 1024, "dsir")} " +
        "SELECT d.doc_id, d.lang, CAST(dsc.score_ppm AS BIGINT) AS score_ppm " +
        "FROM dsc JOIN documents d USING (doc_id) WHERE d.lang <> 'en' " +
        "ORDER BY CAST(dsc.score_ppm AS BIGINT) DESC, d.doc_id LIMIT 100")),
    Gate("text_collocations", (s, d) =>
      // phrase mining: window-2 co-occurrence pairs scored by exact
      // integer Dice ppm; map-side pair expansion from the token array
      TextAnalysis.collocations(rd(s, d, "documents"), window = 2,
        minPairCount = 2, topK = 50),
      OracleSql.collocations(2, 2, 50)),
    Gate("text_bigram_lm", (s, d) =>
      // Kneser-Ney bigram stats in exact integer ppm — the data-driven
      // quality-scoring LM, engine-reproducible to the last unit
      TextAnalysis.bigramLmStats(rd(s, d, "documents"), topK = 50),
      ("WITH bg AS (SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS b " +
        "FROM (SELECT [t for t in string_split_regex(lower(trim(text)), '\\s+') if t <> ''] AS toks FROM documents)), " +
        "bc AS (SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2, count(*) AS c12 FROM bg GROUP BY 1, 2), " +
        "ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS nf FROM bc GROUP BY 1), " +
        "cont AS (SELECT w2, count(*) AS np FROM bc GROUP BY 1), " +
        "t AS (SELECT count(*) AS tt FROM bc) " +
        "SELECT bc.w1, bc.w2, c12, c1, nf AS n_follow_types, np AS n_prec_types, " +
        "CAST((4 * c12 - 3) * 1000000 // (4 * c1) + 3 * nf * np * 1000000 // (4 * c1 * tt) AS BIGINT) AS kn_ppm " +
        "FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN t " +
        "ORDER BY c12 DESC, bc.w1, bc.w2 LIMIT 50")),
    Gate("bpe_encode_counts", (s, d) =>
      // tokenizer inference: per-doc sequence length under the 6
      // learned merges — the count a packing stage actually budgets
      TextAnalysis.bpeEncodedCounts(rd(s, d, "documents"), rounds = 6),
      OracleSql.bpeEncodedCounts(rounds = 6)),
    Gate("text_normalize", (s, d) => {
      // canonical normalization (NFC + zero-width/quote/dash/control
      // scrub + whitespace collapse); the corpus is ASCII, so a
      // deterministic messy-unicode prefix is injected to exercise
      // every rule (same literal interpolated into the oracle SQL)
      val injected = rd(s, d, "documents")
        .select(col("doc_id"),
          concat(lit(SparkEntry.messyPrefix), col("text")).as("text"))
      TextAnalysis.normalizeText(injected)
    },
      {
        val chain =
          s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
            s"regexp_replace(nfc_normalize(text), '${TextAnalysis.zeroWidthPattern}', '', 'g'), " +
            s"'\u00A0', ' ', 'g'), " + // NBSP via escape so edits cannot mangle it
            s"'${TextAnalysis.singleQuotePattern}', '''', 'g'), " +
            s"'${TextAnalysis.doubleQuotePattern}', '\"', 'g'), " +
            s"'${TextAnalysis.dashPattern}', '-', 'g'), " +
            s"'${TextAnalysis.controlPattern}', '', 'g')"
        s"WITH inj AS (SELECT doc_id, '$messyPrefix' || text AS text FROM documents) " +
          s"SELECT doc_id, length(text) AS n_raw_chars, length(norm) AS n_norm_chars, norm AS norm_text " +
          s"FROM (SELECT doc_id, text, trim(regexp_replace($chain, '\\s+', ' ', 'g')) AS norm FROM inj)"
      }),
    Gate("feat_loo_target_enc", (s, d) => {
      // leave-one-out target encoding — the ML feature that leaks
      // without the leave-one-out: each order's category encoding is
      // the mean target of its category EXCLUDING itself, in exact
      // integer arithmetic ((sum − own) div (n − 1)); singleton
      // categories yield NULL rather than a self-leak
      val o = rd(s, d, "orders")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val agg = o.groupBy("o_orderpriority")
        .agg(sum(cents).as("sum_c"), count(lit(1)).as("n_c"))
      o.select(col("o_orderkey"), col("o_orderpriority"), cents.as("own_c"))
        .join(broadcast(agg), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(col("n_c") > 1, expr("(sum_c - own_c) div (n_c - 1)"))
            .as("loo_enc_c"))
    },
      ("WITH t AS (SELECT o_orderkey, o_orderpriority, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS own_c FROM orders), " +
        "a AS (SELECT o_orderpriority, CAST(sum(own_c) AS BIGINT) AS sum_c, count(*) AS n_c " +
        "FROM t GROUP BY 1) " +
        "SELECT o_orderkey, t.o_orderpriority, " +
        "CASE WHEN n_c > 1 THEN (sum_c - own_c) // (n_c - 1) END AS loo_enc_c " +
        "FROM t JOIN a ON t.o_orderpriority = a.o_orderpriority")),
    Gate("skew_key_profile", (s, d) =>
      // the salting-decision diagnostic: hottest event users with
      // exact integer ppm shares and table-wide context
      graft.operators.Skew.keyProfile(rd(s, d, "events"), Seq("user_id"), topK = 10),
      ("WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id), " +
        "t AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total_rows FROM c), " +
        "h AS (SELECT user_id, n, CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INT) AS rank FROM c) " +
        "SELECT h.user_id, h.n, h.rank, h.n * 1000000 // t.total_rows AS share_ppm, " +
        "t.n_keys, t.total_rows FROM h, t WHERE h.rank <= 10")),
    Gate("skew_salted_join", (s, d) => {
      // the remedy that ACTS on the profile: the 3 hottest supplier
      // keys are salted across 8 reducers (dim rows replicated per
      // salt for hot keys only), cold keys join unsalted — the
      // aggregate must equal the plain join's exactly, which is what
      // the oracle computes (salting is invisible in the output)
      val l = rd(s, d, "lineitem"); val su = rd(s, d, "supplier")
      val hot = graft.operators.Skew
        .keyProfile(l.select(col("l_suppkey")), Seq("l_suppkey"), topK = 3)
        .select("l_suppkey").collect().map(_.get(0)).toSeq
      graft.operators.Skew.saltedJoinHot(l, su, "l_suppkey", "s_suppkey", hot, 8)
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
    },
      ("SELECT s_suppkey, s_name, count(*) AS n_lines, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2")),
    Gate("decontaminate_embed", (s, d) => {
      // semantic decontamination: vectors 0-9 act as the eval suite;
      // any corpus vector cosine-similar to one of them is dropped
      val emb = rd(s, d, "embeddings")
      Dedup.decontaminateEmbed(
        emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10), 0.35)
        .select("vec_id", "label")
    },
      ("SELECT a.vec_id, a.label FROM embeddings a WHERE a.vec_id >= 10 AND NOT EXISTS " +
        "(SELECT 1 FROM embeddings q WHERE q.vec_id < 10 AND " +
        "list_cosine_similarity(a.embedding, q.embedding) >= 0.35)")),
    Gate("text_repetition", (s, d) => TextAnalysis.repetitionSignals(rd(s, d, "documents")),
      ("WITH arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents), " +
        "tok AS (SELECT doc_id, unnest(a) AS tok FROM arr), " +
        "tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2), " +
        "ta AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_tokens, CAST(count(*) AS INT) AS n_distinct_tokens, " +
        "CAST(max(c) AS INT) AS top_token_count FROM tc GROUP BY 1), " +
        "g AS (SELECT doc_id, unnest([a[i] || ' ' || a[i+1] FOR i IN generate_series(1, len(a)-1)]) AS gm FROM arr), " +
        "gc AS (SELECT doc_id, gm, count(*) AS c FROM g GROUP BY 1, 2), " +
        "ga AS (SELECT doc_id, CAST(max(c) AS INT) AS top_bigram_count FROM gc GROUP BY 1) " +
        "SELECT ta.doc_id, n_tokens, n_distinct_tokens, top_token_count, " +
        "coalesce(top_bigram_count, 0) AS top_bigram_count " +
        "FROM ta LEFT JOIN ga ON ta.doc_id = ga.doc_id")),
    Gate("pii_redact", (s, d) => {
      // the synthetic corpus is clean word soup, so deterministic PII
      // derived from doc_id is appended first — the scrub patterns then
      // actually fire, and the oracle replays the same injection
      val injected = rd(s, d, "documents").withColumn("text", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0.1 call 555-867-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" acct 9"), lpad((col("doc_id") % 100000000).cast("string"), 8, "0")))
      TextAnalysis.redactPii(injected)
        .withColumn("redacted_md5", md5(col("redacted"))).drop("redacted")
    },
      {
        // shares the literal pattern strings with the Spark operator —
        // both engines run the identical regex source
        val e = graft.operators.TextAnalysis.emailPattern
        val ip = graft.operators.TextAnalysis.ipv4Pattern
        val ph = graft.operators.TextAnalysis.phonePattern
        val num = graft.operators.TextAnalysis.longNumPattern
        ("WITH injected AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 call 555-867-' || " +
          "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' acct 9' || " +
          "lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') AS t FROM documents) " +
          s"SELECT doc_id, CAST(len(regexp_extract_all(t, '$e')) AS INT) AS n_emails, " +
          s"CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ipv4, " +
          s"CAST(len(regexp_extract_all(t, '$ph')) AS INT) AS n_phones, " +
          s"CAST(len(regexp_extract_all(t, '$num')) AS INT) AS n_longnums, " +
          s"md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t, " +
          s"'$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g'), " +
          s"'$num', '<NUM>', 'g')) AS redacted_md5 FROM injected")
      }),

    // —— training-data pipeline: multimodal ——
    Gate("media_byte_stats", (s, d) =>
      // binary-column stats over media rows (text payloads as the
      // deterministic stand-in for image/audio bytes)
      Multimodal.byteStats(
        Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "text").toDF()),
      OracleSql.mediaByteStats),
    Gate("media_ahash_pairs", (s, d) => {
      // perceptual near-dup: 64-bit integer aHash per payload, banded
      // chunk join (pigeonhole, never a cross join), exact Hamming <= 3.
      // The corpus is augmented with a brightness-shifted variant of
      // every asset (+8 per byte, unclamped on ASCII payloads) — the
      // transform aHash is built to see through; each (asset, variant)
      // pair must surface at Hamming 0
      val media = Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "text")
      val variants = Multimodal.brightnessVariant(media, delta = 8, idOffset = 1000000L)
      Multimodal.ahashPairs(media.unionByName(variants).toDF(), maxHamming = 3)
    },
      OracleSql.mediaAhashPairs(3, 8, 1000000L)),
    Gate("media_dup_clusters", (s, d) => {
      // asset-level duplicate GROUPS: the ahash Hamming pairs close
      // into clusters via large-star/small-star contraction, so every
      // asset lands in exactly one dedup group (the keep-one-per-
      // cluster decision needs groups, not pairs); each brightness
      // variant must co-cluster with its original
      val media = Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "text")
      val variants = Multimodal.brightnessVariant(media, delta = 8, idOffset = 1000000L)
      val pairs = Multimodal.ahashPairs(
        media.unionByName(variants).toDF(), maxHamming = 3)
      graft.operators.Graph.connectedComponents(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("node").as("media_id"), col("component_id").as("cluster_id"))
    },
      OracleSql.mediaDupClusters(3, 8, 1000000L)),
    Gate("media_frame_pairs", (s, d) => {
      // frame-level perceptual dedup — the repeated-intro/outro shape:
      // every 4th frame of each container (and of its brightness
      // variant) is aHashed and identical-hash frames pair (Hamming 0:
      // stub frames are ~n/16 bytes, too small for a meaningful wider
      // ball — the radius is the whole-asset query's job). Frame
      // identity rides as media_id·32 + frame_idx (≤ 17 frames)
      val media = Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "video")
      val all = media.unionByName(
        Multimodal.brightnessVariant(media, delta = 8, idOffset = 1000000L))
      val frames = Multimodal.sampleFrames(all, everyN = 4).toDF()
        .select((col("media_id") * 32 + col("frame_idx")).as("media_id"),
          col("bytes"))
      Multimodal.ahashPairs(frames, maxHamming = 0)
    },
      OracleSql.mediaFramePairs(16, 4, 0, 8, 1000000L)),
    Gate("media_scene_cuts", (s, d) =>
      // scene-boundary detection: perceptual distance between
      // CONSECUTIVE frames (lag window per asset), cut where the aHash
      // jumps ≥ 12 bits — the temporal sibling of media_frame_pairs'
      // cross-asset Hamming ball
      Multimodal.sceneCuts(
        Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "video"),
        everyN = 1, minHamming = 12),
      OracleSql.mediaSceneCuts(16, 12)),
    Gate("media_silence_segments", (s, d) =>
      // audio-style segmentation: per-block integer PCM energy (one
      // codegen pass), voiced runs found by gaps-and-islands — per-key
      // window state is one asset's block list
      Multimodal.silenceSegments(
        Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "audio").toDF(),
        blockSize = 16, center = 97, minEnergy = 5000L),
      OracleSql.mediaSilenceSegments(16, 97, 5000L)),
    Gate("media_frame_stats", (s, d) =>
      // frame sampling through the typed decoder path: the stub cuts a
      // fake 16-frame container into byte slices and keeps every 4th —
      // all offsets are pure arithmetic, so DuckDB replays them with
      // blob substrings
      Multimodal.sampleFrames(
        Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "video"),
        everyN = 4)
        .toDF()
        .select(col("media_id"), col("frame_idx"),
          length(col("bytes")).as("n_bytes"), md5(col("bytes")).as("frame_md5")),
      OracleSql.mediaFrameStats(16, 4)),
    Gate("media_resize_stats", (s, d) =>
      // the typed mapPartitions decode path under the gate: stub resize
      // is a deterministic prefix slice, so the oracle replays it with
      // BLOB substring
      Multimodal.byteStats(Multimodal.resizeAll(
        Multimodal.fromText(rd(s, d, "documents"), "doc_id", "text", "text"),
        16, 16).toDF()),
      OracleSql.mediaResizeStats(256)),

    // —— non-equi joins: as-of and interval (operators Spark lacks) ——
    Gate("asof_join", (s, d) => {
      // each purchase picks up the user's most recent view at-or-before
      // it (union + one keyed shuffle — no pair expansion)
      val ev = rd(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      AsOf.asofJoin(purchases, views, Seq("user_id"), "ts",
        tieCol = "view_event_id", payloadCols = Seq("view_event_id", "view_value"))
    },
      ("SELECT l.event_id, l.user_id, l.ts, l.value, r.event_id AS view_event_id, " +
        "r.value AS view_value, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = l.user_id AND r.ts <= l.ts " +
        "QUALIFY row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC, r.event_id DESC) = 1")),
    Gate("asof_join_bcast", (s, d) => {
      // the STRATEGY-tier as-of: same semantics as asof_join (same
      // oracle row), but planned as BroadcastAsOfJoinExec — right side
      // broadcast, per-key binary search, zero exchange on the fact
      // side (AsOfExecSpec pins the plan shape)
      val ev = rd(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      AsOf.asofJoinBroadcast(purchases, views, Seq("user_id"), "ts",
        tieCol = "view_event_id", payloadCols = Seq("view_event_id", "view_value"))
    },
      // independent naive formulation of the as-of join (range join +
      // per-left row_number) — deliberately NOT the union+window shape the
      // operator uses, so implementation and oracle share no structure
      // the SAME oracle text as asof_join: the strategy-tier exec must
      // reproduce the window form's semantics exactly
      ("SELECT l.event_id, l.user_id, l.ts, l.value, r.event_id AS view_event_id, " +
        "r.value AS view_value, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = l.user_id AND r.ts <= l.ts " +
        "QUALIFY row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC, r.event_id DESC) = 1")),
    Gate("asof_join_bcast_fwd", (s, d) => {
      // forward direction through the same strategy-tier exec (same
      // oracle row as asof_join_fwd)
      val ev = rd(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      AsOf.asofJoinBroadcast(purchases, views, Seq("user_id"), "ts",
        tieCol = "view_event_id", payloadCols = Seq("view_event_id", "view_value"),
        forward = true)
    },
      // SAME oracle text as asof_join_fwd — the strategy-tier exec's
      // forward direction must reproduce the window form exactly
      ("SELECT l.event_id, l.user_id, l.ts, l.value, r.event_id AS view_event_id, " +
        "r.value AS view_value, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = l.user_id AND r.ts >= l.ts " +
        "QUALIFY row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts ASC, r.event_id DESC) = 1")),
    Gate("asof_join_tol", (s, d) => {
      // same join with a 6-hour freshness bound: stale matches null out
      val ev = rd(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      AsOf.asofJoin(purchases, views, Seq("user_id"), "ts",
        tieCol = "view_event_id", payloadCols = Seq("view_event_id", "view_value"),
        toleranceMicros = Some(6L * 3600L * 1000000L))
    },
      ("SELECT l.event_id, l.user_id, l.ts, l.value, r.event_id AS view_event_id, " +
        "r.value AS view_value, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = l.user_id AND r.ts <= l.ts AND epoch_us(l.ts) - epoch_us(r.ts) <= 21600000000 " +
        "QUALIFY row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC, r.event_id DESC) = 1")),
    Gate("asof_join_fwd", (s, d) => {
      // forward direction: each purchase picks up the user's EARLIEST
      // view at-or-after it (mirrored carry over the same union shape)
      val ev = rd(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      AsOf.asofJoinForward(purchases, views, Seq("user_id"), "ts",
        tieCol = "view_event_id", payloadCols = Seq("view_event_id", "view_value"))
    },
      ("SELECT l.event_id, l.user_id, l.ts, l.value, r.event_id AS view_event_id, " +
        "r.value AS view_value, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = l.user_id AND r.ts >= l.ts " +
        "QUALIFY row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts ASC, r.event_id DESC) = 1")),
    Gate("asof_join_nearest", (s, d) => {
      // nearest direction (ties prefer backward) — pandas merge_asof parity
      val ev = rd(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"), col("value").as("view_value"))
      AsOf.asofJoinNearest(purchases, views, Seq("user_id"), "ts",
        tieCol = "view_event_id", payloadCols = Seq("view_event_id", "view_value"))
    },
      // independent naive formulation: every same-user view ranked by
      // |time distance|, backward preferred on ties, then highest id
      ("SELECT l.event_id, l.user_id, l.ts, l.value, r.event_id AS view_event_id, " +
        "r.value AS view_value, r.ts AS matched_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = l.user_id " +
        "QUALIFY row_number() OVER (PARTITION BY l.event_id ORDER BY " +
        "abs(epoch_us(r.ts) - epoch_us(l.ts)), " +
        "CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END, r.event_id DESC) = 1")),
    Gate("r_range_join", (s, d) => {
      // general interval form: broadcast band dim, non-equi predicate
      val bands = priceBands(s)
      RangeJoin.bandJoin(rd(s, d, "orders"), "o_totalprice", bands)
        .filter(col("band").isNotNull)
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    },
      bandJoinOracle),
    Gate("r_band_equi", (s, d) => {
      // uniform-width rewrite of the same join: equi-join on
      // floor(value/width), broadcast HASH join (ScaleSpec-asserted)
      val bands = priceBands(s)
      RangeJoin.uniformBandJoin(rd(s, d, "orders"), "o_totalprice", bands, 100000.0)
        .filter(col("band").isNotNull)
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    },
      bandJoinOracle),

    // —— sampling / sketches ——
    Gate("sample_hash_split", (s, d) =>
      // deterministic 80/10/10 train/val/test split, stable across runs
      // and engines (md5-grid thresholds; oracle replays the CASE)
      Sampling.hashSplit(rd(s, d, "documents"), "doc_id", "exp1", splitFractions)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id")),
      (s"WITH s AS (SELECT doc_id, n_chars, ${OracleSql.hashSplitCase("CAST(doc_id AS VARCHAR)", "exp1", splitFractions)} AS split FROM documents) " +
        "SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id FROM s GROUP BY split")),
    Gate("sample_cluster_split", (s, d) => {
      // leakage-safe split: near-dup clusters (trigram jaccard >= 0.05)
      // assigned to one split as a unit, keyed by the cluster's min doc
      // id; unpaired docs split by their own id (== plain hashSplit)
      val docs = rd(s, d, "documents")
      Sampling.clusterSafeSplit(
        docs, sharedPairs(s, d), "doc_id", "exp1", splitFractions)
        .select("doc_id", "source", "split")
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node) " +
        "SELECT d.doc_id, d.source, " +
        OracleSql.hashSplitCase(
          "CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)", "exp1", splitFractions) +
        " AS split FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id")),
    Gate("sample_stratified", (s, d) =>
      // corpus mixing: per-source keep-rates (keep all of src0, half of
      // src1, a tenth of src2, a quarter of the rest), deterministic
      // and nested under one salt
      Sampling.stratifiedKeep(rd(s, d, "documents"), "doc_id", "source", "mix1",
        Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1), defaultRate = 0.25)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars")),
      (s"WITH kept AS (SELECT source, n_chars FROM documents WHERE ${OracleSql.stratifiedKeepWhere(
        "CAST(doc_id AS VARCHAR)", "source", "mix1",
        Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1), 0.25)}) " +
        "SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM kept GROUP BY source")),
    Gate("sample_cap_group", (s, d) =>
      // class balancing: at most 10 docs per source, retained set a
      // stable pseudo-random pick (pure function of salt+doc_id)
      Sampling.capPerGroup(rd(s, d, "documents"), "doc_id", "source", "cap1", 10)
        .select("source", "doc_id", "n_chars"),
      ("SELECT source, doc_id, n_chars FROM (SELECT source, doc_id, n_chars, " +
        "row_number() OVER (PARTITION BY source ORDER BY md5('cap1:' || CAST(doc_id AS VARCHAR)) NULLS FIRST, doc_id NULLS FIRST) AS rk " +
        "FROM documents) t WHERE rk <= 10")),
    Gate("sample_neyman_alloc", (s, d) =>
      // variance-optimal eval/labeling budget: per event type, seats ∝
      // N_h·σ_h of the cents metric on the exact integer grid (isqrt
      // of n·Σx²−(Σx)², floored at 1), Hamilton largest-remainder
      // apportionment — big-and-noisy strata earn the labels; a huge
      // constant stratum earns presence only
      Sampling.neymanAllocation(
        rd(s, d, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", budget = 5000L),
      // Neyman seats: same isqrt + largest-remainder replay discipline as
      // the temperature mixer, weights from the exact integer moments
      ("WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x FROM events), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "CAST(sum(x * x) AS BIGINT) AS sxx FROM v GROUP BY 1), " +
        "d0 AS (SELECT event_type, n, n * sxx - sx * sx AS disc FROM g), " +
        "s0 AS (SELECT event_type, n, disc, CAST(floor(sqrt(CAST(disc AS DOUBLE))) AS BIGINT) AS r FROM d0), " +
        "wt AS (SELECT event_type, n, greatest(CASE WHEN (r + 1) * (r + 1) <= disc THEN r + 1 " +
        "WHEN r * r > disc THEN r - 1 ELSE r END, CAST(1 AS BIGINT)) AS w FROM s0), " +
        "tt AS (SELECT event_type, n, w, CAST(sum(w) OVER () AS BIGINT) AS wtot FROM wt), " +
        "tb AS (SELECT event_type, n, w, wtot, CAST((w * 5000) // wtot AS BIGINT) AS base, " +
        "CAST(w * 5000 - ((w * 5000) // wtot) * wtot AS BIGINT) AS rem FROM tt), " +
        "tr AS (SELECT event_type, n, w, base, rem, CAST(5000 - sum(base) OVER () AS BIGINT) AS seats, " +
        "row_number() OVER (ORDER BY rem DESC, event_type ASC) AS rrk FROM tb) " +
        "SELECT event_type, n, w, least(base + CASE WHEN rrk <= seats THEN 1 ELSE 0 END, n) AS alloc FROM tr")),
    Gate("sample_class_balance", (s, d) =>
      // exact-k class rebalancing: every event type downsampled to the
      // minority type's count via the portable md5 rank — the skewed-
      // label prerequisite for classifier training, survivor set a
      // pure function of salt + corpus
      Sampling.classBalance(rd(s, d, "events"), "event_id", "event_type", "bal")
        .select("event_id", "event_type"),
      ("WITH c AS (SELECT event_type, count(*) AS cn FROM events GROUP BY 1), " +
        "mn AS (SELECT min(cn) AS m FROM c), " +
        "r AS (SELECT event_id, event_type, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY md5('bal:' || CAST(event_id AS VARCHAR)), event_id) AS rk FROM events) " +
        "SELECT event_id, event_type FROM r, mn WHERE rk <= m")),
    Gate("sample_temperature_alloc", (s, d) =>
      // temperature-0.5 mixture: sqrt-smoothed per-source seats from a
      // fixed 200-doc budget, largest-remainder apportionment in exact
      // long arithmetic
      Sampling.temperatureAllocation(rd(s, d, "documents"), "source", 200L, 0.5)
        .select(col("source"), col("n").as("n_docs"), col("w"), col("alloc")),
      (OracleSql.temperatureAllocCtes(200) +
        " SELECT source, n AS n_docs, w, alloc FROM talloc")),
    Gate("mix_epoch_alloc", (s, d) =>
      // data-constrained mixture: temperature-0.5 desired mix, 2-epoch
      // repetition caps per source, and exact integer water-filling of
      // a fixed 290k-char token budget — capped sources grant their
      // full cap, the residual redistributes by weight (the
      // data-constrained-scaling allocation, in epochs-ppm per source)
      Sampling.epochAllocation(rd(s, d, "documents").select("source", "n_chars"),
        "source", "n_chars", budget = 290000L, maxEpochs = 2),
      OracleSql.epochAlloc(290000L, 2)),
    Gate("sample_temperature_docs", (s, d) =>
      // the realized temperature sample: exactly alloc_g docs per
      // source, stable md5-ranked picks
      Sampling.temperatureSample(rd(s, d, "documents"), "doc_id", "source", "temp1", 200L, 0.5)
        .select("source", "doc_id"),
      (OracleSql.temperatureAllocCtes(200) +
        ", rk AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('temp1:' || CAST(doc_id AS VARCHAR)) NULLS FIRST, doc_id NULLS FIRST) AS rk " +
        "FROM documents) " +
        "SELECT rk.source, rk.doc_id FROM rk JOIN talloc ON rk.source = talloc.source " +
        "WHERE rk.rk <= talloc.alloc")),
    Gate("dq_constraints", (s, d) =>
      // admission-gate checks in one scan; the negated-status check is
      // deliberately violated so non-zero counts are exercised too
      graft.operators.Quality.constraintViolations(rd(s, d, "orders"), Seq(
        "key_not_null" -> col("o_orderkey").isNotNull,
        "price_non_negative" -> (col("o_totalprice") >= 0),
        "status_in_domain" -> col("o_orderstatus").isin("F", "O", "P"),
        "status_is_f" -> (col("o_orderstatus") === "F"))),
      ("WITH n AS (SELECT count(*) AS n_rows FROM orders) " +
        "SELECT 'key_not_null' AS check_name, (SELECT count(*) FROM orders WHERE NOT coalesce(o_orderkey IS NOT NULL, FALSE)) AS n_violations, n_rows FROM n " +
        "UNION ALL SELECT 'price_non_negative', (SELECT count(*) FROM orders WHERE NOT coalesce(o_totalprice >= 0, FALSE)), n_rows FROM n " +
        "UNION ALL SELECT 'status_in_domain', (SELECT count(*) FROM orders WHERE NOT coalesce(o_orderstatus IN ('F','O','P'), FALSE)), n_rows FROM n " +
        "UNION ALL SELECT 'status_is_f', (SELECT count(*) FROM orders WHERE NOT coalesce(o_orderstatus = 'F', FALSE)), n_rows FROM n")),
    Gate("dq_numeric_ks", (s, d) => {
      // exact-integer two-sample KS: do BUILDING and AUTOMOBILE
      // customers draw balances from the same distribution? Gap is
      // cross-multiplied (never a float CDF); argmax value in cents
      val c = rd(s, d, "customer")
      graft.operators.Quality.numericDriftKs(
        c.filter(col("c_mktsegment") === "BUILDING"),
        c.filter(col("c_mktsegment") === "AUTOMOBILE"),
        "c_acctbal")
        .select(col("n_a"), col("n_b"), col("ks_num"),
          round(col("at_value") * 100).cast("long").as("at_value_c"))
    },
      ("WITH a AS (SELECT c_acctbal AS v, count(*) AS ca FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' AND c_acctbal IS NOT NULL GROUP BY 1), " +
        "b AS (SELECT c_acctbal AS v, count(*) AS cb FROM customer " +
        "WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT coalesce(a.v, b.v) AS v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb " +
        "FROM a FULL JOIN b ON a.v = b.v), " +
        "c AS (SELECT v, CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma, " +
        "CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb FROM m), " +
        "t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM m) " +
        "SELECT na AS n_a, nb AS n_b, CAST(abs(cuma * nb - cumb * na) AS BIGINT) AS ks_num, " +
        "CAST(round(v * 100) AS BIGINT) AS at_value_c " +
        "FROM c CROSS JOIN t ORDER BY abs(cuma * nb - cumb * na) DESC, v LIMIT 1")),
    Gate("dq_profile", (s, d) =>
      // descriptive dataset profile in one scan: nulls, exact distincts,
      // min/max per column (timestamps/strings/ints plus an in-range
      // double) — the DQ-baseline report
      graft.operators.Quality.profileColumns(rd(s, d, "orders"), Seq(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
        .map(c => s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct, " +
          s"CAST(min($c) AS VARCHAR) AS min_value, CAST(max($c) AS VARCHAR) AS max_value FROM orders")
        .mkString(" UNION ALL ")),
    Gate("dq_k_anonymity", (s, d) =>
      // privacy-release gate: only rows whose (segment, nation)
      // quasi-identifier combination is shared by >= 10 customers leave
      // the warehouse, each carrying its crowd size
      graft.operators.Quality.kAnonymize(
        rd(s, d, "customer").select("c_custkey", "c_mktsegment", "c_nationkey"),
        Seq("c_mktsegment", "c_nationkey"), k = 10),
      ("SELECT c_custkey, c_mktsegment, c_nationkey, qi_group_n FROM (" +
        "SELECT c_custkey, c_mktsegment, c_nationkey, " +
        "count(*) OVER (PARTITION BY c_mktsegment, c_nationkey) AS qi_group_n " +
        "FROM customer) t WHERE qi_group_n >= 10")),
    Gate("dq_l_diversity", (s, d) =>
      // the homogeneity-attack audit beside dq_k_anonymity: cohort
      // size AND sensitive-value diversity (balance band of c_acctbal)
      // per quasi-identifier cohort, with the l >= 5 release flag
      graft.operators.Quality.lDiversityReport(
        rd(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey"),
        floor(col("c_acctbal") / 2000.0).cast("long"), l = 5),
      ("SELECT c_mktsegment, c_nationkey, count(*) AS n_rows, " +
        "count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) AS n_sensitive, " +
        "count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) >= 5 AS meets_l " +
        "FROM customer GROUP BY 1, 2")),
    Gate("u5_table_diff", (s, d) => {
      // CDC between two deterministic snapshots of customer: balances
      // shifted for every 4th key (changed), every 11th key dropped
      // (deleted), and synthetic keys added (inserted)
      val c = rd(s, d, "customer")
      val prev = c.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
      val next = c.filter(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 4 === 0, col("c_acctbal") + lit(25))
            .otherwise(col("c_acctbal")).as("bal"),
          col("c_mktsegment").as("seg"))
        .unionByName(c.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + 2000000L).as("k"), lit(1.0).as("bal"),
            lit("NEW").as("seg")))
      Merge.diff(prev, next, Seq("k"), Seq("bal", "seg"))
    },
      ("WITH prev AS (SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg FROM customer), " +
        "nxt AS (SELECT c_custkey AS k, CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 25 ELSE c_acctbal END AS bal, " +
        "c_mktsegment AS seg FROM customer WHERE c_custkey % 11 <> 0 " +
        "UNION ALL SELECT c_custkey + 2000000, 1.0, 'NEW' FROM customer WHERE c_custkey % 10 = 3), " +
        "j AS (SELECT p.k AS pk, p.bal AS pbal, p.seg AS pseg, n.k AS nk, n.bal AS nbal, n.seg AS nseg " +
        "FROM prev p FULL JOIN nxt n ON p.k = n.k), " +
        "d AS (SELECT coalesce(pk, nk) AS k, pbal AS prev_bal, pseg AS prev_seg, nbal AS next_bal, nseg AS next_seg, " +
        "CASE WHEN pk IS NOT NULL AND nk IS NOT NULL AND (pbal IS DISTINCT FROM nbal OR pseg IS DISTINCT FROM nseg) THEN 'changed' " +
        "WHEN pk IS NOT NULL AND nk IS NULL THEN 'deleted' " +
        "WHEN pk IS NULL AND nk IS NOT NULL THEN 'inserted' END AS change_type FROM j) " +
        "SELECT * FROM d WHERE change_type IS NOT NULL")),
    Gate("u7_bucket_diff", (s, d) => {
      // anti-entropy replica diff at scale: each side folds to 1024
      // (bucket, count, digest-sum) rows in one combinable pass; only
      // the buckets that disagree get their rows read for the exact
      // drill-down — 100 TB replicas differing in a handful of rows
      // compare at digest cost plus a few buckets of I/O, not two
      // full-width reads. Digest = k·A + cents·B on the decimal grid
      val src = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val right = src.where(col("k") % 7000 =!= 1)
        .select(col("k"), when(col("k") % 9000 === 3, col("cents") + 1)
          .otherwise(col("cents")).as("cents"))
      val digest = col("k").cast("decimal(38,0)") * lit(1000003L) +
        col("cents").cast("decimal(38,0)") * lit(998244353L)
      val dirty = Merge.dirtyBuckets(src, right, "k", digest, 1024)
        .select("bucket").collect().map(_.getLong(0)).toSeq // <= 1024 rows
      val pred = pmod(col("k"), lit(1024L)).isin(dirty: _*)
      Merge.diff(src.where(pred), right.where(pred), Seq("k"), Seq("cents"))
    },
      // the bucket tree is an I/O mechanism — the RESULT is the exact
      // replica diff, computed naively by the oracle
      ("WITH l AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "r AS (SELECT k, CASE WHEN k % 9000 = 3 THEN cents + 1 ELSE cents END AS cents " +
        "FROM l WHERE k % 7000 <> 1) " +
        "SELECT coalesce(l.k, r.k) AS k, l.cents AS prev_cents, r.cents AS next_cents, " +
        "CASE WHEN l.k IS NOT NULL AND r.k IS NOT NULL AND l.cents <> r.cents THEN 'changed' " +
        "WHEN r.k IS NULL THEN 'deleted' ELSE 'inserted' END AS change_type " +
        "FROM l FULL OUTER JOIN r ON l.k = r.k " +
        "WHERE l.k IS NULL OR r.k IS NULL OR l.cents <> r.cents")),
    Gate("u9_merge_3way", (s, d) => {
      // git-style three-way table merge: two writers branched from one
      // snapshot — non-overlapping changes (updates, deletes, inserts
      // on either side) merge cleanly; keys both sides changed
      // DIFFERENTLY resolve by policy (theirs) and carry was_conflict
      val base = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val ours = base.where(col("k") % 1000 =!= 1)
        .select(col("k"), when(col("k") % 100 === 3, col("cents") + 11)
          .otherwise(col("cents")).as("cents"))
        .unionByName(base.where(col("k") % 500 === 2)
          .select((col("k") + 10000000L).as("k"), col("cents")))
      val theirs = base.where(col("k") % 1000 =!= 7)
        .select(col("k"), when(col("k") % 150 === 3, col("cents") + 22)
          .otherwise(col("cents")).as("cents"))
        .unionByName(base.where(col("k") % 700 === 3)
          .select((col("k") + 20000000L).as("k"), col("cents")))
      Merge.threeWayMerge(base, ours, theirs, Seq("k"), Seq("cents"),
        policy = "theirs")
    },
      // independent CASE-chain formulation of the 3-way classification:
      // a side yields unless it changed; equal changes merge; different
      // changes resolve theirs and flag
      ("WITH base AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "o AS (SELECT k, CASE WHEN k % 100 = 3 THEN cents + 11 ELSE cents END AS cents " +
        "FROM base WHERE k % 1000 <> 1 " +
        "UNION ALL SELECT k + 10000000, cents FROM base WHERE k % 500 = 2), " +
        "t AS (SELECT k, CASE WHEN k % 150 = 3 THEN cents + 22 ELSE cents END AS cents " +
        "FROM base WHERE k % 1000 <> 7 " +
        "UNION ALL SELECT k + 20000000, cents FROM base WHERE k % 700 = 3), " +
        "j AS (SELECT coalesce(b.k, o.k, t.k) AS k, " +
        "b.k IS NOT NULL AS pb, o.k IS NOT NULL AS po, t.k IS NOT NULL AS pt, " +
        "b.cents AS bc, o.cents AS oc, t.cents AS tc " +
        "FROM base b FULL JOIN o ON b.k = o.k FULL JOIN t ON coalesce(b.k, o.k) = t.k), " +
        "cl AS (SELECT *, ((po <> pb) OR (oc IS DISTINCT FROM bc)) AS och, " +
        "((pt <> pb) OR (tc IS DISTINCT FROM bc)) AS tch FROM j), " +
        "r AS (SELECT *, (och AND tch AND ((po <> pt) OR (oc IS DISTINCT FROM tc))) AS was_conflict FROM cl), " +
        "f AS (SELECT k, CASE WHEN was_conflict THEN FALSE ELSE och END AS use_ours, was_conflict, " +
        "po, pt, oc, tc FROM r) " +
        "SELECT k, CASE WHEN use_ours THEN oc ELSE tc END AS cents, was_conflict " +
        "FROM f WHERE CASE WHEN use_ours THEN po ELSE pt END")),
    Gate("dp_laplace_release", (s, d) => {
      // ε-DP release of per-status order counts and CLAMPED revenue:
      // Laplace noise derandomized through the AVALANCHED md5 digest of
      // (secret salt, tag, group) — a retried release publishes the
      // identical numbers (fresh salt = more budget), and the oracle
      // replays the exact draw through the same inverse-CDF transform
      graft.operators.Quality.dpLaplaceRelease(
        rd(s, d, "orders").select(col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "status", "cents", epsilon = 0.5, clampHi = 10000000L, salt = "r9")
    },
      OracleSql.dpLaplaceRelease("o_orderstatus", "status",
        "CAST(round(o_totalprice * 100) AS BIGINT)", "orders",
        epsilon = 0.5, clampHi = 10000000L, salt = "r9")),
    Gate("u8_bucket_repair", (s, d) => {
      // anti-entropy END-TO-END: detection (bucket digests) → localized
      // drill-down (diff over the dirty-bucket slices only) → repair
      // (the diff recast as a change feed, applied onto the stale
      // replica) — the replica lands hash-equal to the source while the
      // exact-row work reads ONLY the dirty buckets. rows_read (both
      // sides' dirty-slice row counts) rides along as a column the
      // oracle recomputes independently, machine-proving the drill-down
      // footprint ≪ two full reads; the require pins it structurally
      import graft.sources.MergeOnRead
      val src = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // stale replica drift: some keys missing, some payloads drifted,
      // and a few ALIEN rows (present only on the replica) so the
      // repair exercises upsert-insert, upsert-update AND delete
      val stale = src.where(col("k") % 7000 =!= 1)
        .select(col("k"), when(col("k") % 9000 === 3, col("cents") + 1)
          .otherwise(col("cents")).as("cents"))
        .unionByName(src.where(col("k") % 5000 === 2)
          .select((col("k") + 10000000L).as("k"), col("cents")))
      val digest = col("k").cast("decimal(38,0)") * lit(1000003L) +
        col("cents").cast("decimal(38,0)") * lit(998244353L)
      val dirty = Merge.dirtyBuckets(src, stale, "k", digest, 1024)
        .select("bucket").collect().map(_.getLong(0)).toSeq // <= 1024 rows
      val pred = pmod(col("k"), lit(1024L)).isin(dirty: _*)
      val srcSlice = src.where(pred)
      val staleSlice = stale.where(pred)
      val rowsRead = srcSlice.count() + staleSlice.count()
      require(rowsRead * 5 < src.count() + stale.count(),
        s"drill-down must stay localized: read $rowsRead rows")
      val changes = Merge.diff(srcSlice, staleSlice, Seq("k"), Seq("cents"))
        .select(col("k"), col("prev_cents").as("cents"),
          when(col("change_type") === "inserted", lit("delete"))
            .otherwise(lit("upsert")).as("change"))
      MergeOnRead.applyChanges(stale, changes, Seq("k"))
        .withColumn("rows_read", lit(rowsRead))
    },
      // the repaired replica must equal the source; rows_read is
      // recomputed independently from the bucket-digest definition
      // (bucket = k % 1024, digest = k·A + cents·B summed per bucket)
      ("WITH l AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "r AS (SELECT k, CASE WHEN k % 9000 = 3 THEN cents + 1 ELSE cents END AS cents " +
        "FROM l WHERE k % 7000 <> 1 " +
        "UNION ALL SELECT k + 10000000, cents FROM l WHERE k % 5000 = 2), " +
        "lb AS (SELECT k % 1024 AS bucket, count(*) AS n, " +
        "sum(CAST(k AS HUGEINT) * 1000003 + CAST(cents AS HUGEINT) * 998244353) AS dg FROM l GROUP BY 1), " +
        "rb AS (SELECT k % 1024 AS bucket, count(*) AS n, " +
        "sum(CAST(k AS HUGEINT) * 1000003 + CAST(cents AS HUGEINT) * 998244353) AS dg FROM r GROUP BY 1), " +
        "dirty AS (SELECT coalesce(lb.bucket, rb.bucket) AS bucket " +
        "FROM lb FULL JOIN rb ON lb.bucket = rb.bucket " +
        "WHERE lb.n IS DISTINCT FROM rb.n OR lb.dg IS DISTINCT FROM rb.dg), " +
        "rr AS (SELECT (SELECT count(*) FROM l WHERE k % 1024 IN (SELECT bucket FROM dirty)) + " +
        "(SELECT count(*) FROM r WHERE k % 1024 IN (SELECT bucket FROM dirty)) AS rows_read) " +
        "SELECT l.k, l.cents, (SELECT rows_read FROM rr) AS rows_read FROM l")),
    Gate("u10_bitemporal", (s, d) => {
      // BITEMPORAL read: transaction time (MoR batch stamps) crossed
      // with valid time (SCD-2 validity) — "joining as of what we KNEW
      // at txn T, which balance was valid at each order's date". The
      // history lives as a merge-on-read table keyed on
      // (cust, valid_from); txn 1 restates some current balances, txn
      // 2 closes-and-opens versions for others; the gate reads the
      // history AS OF both txn points (readViewAsOf) and point-in-time
      // joins orders against each — the audit query neither time axis
      // alone can answer
      import graft.sources.MergeOnRead
      val c = rd(s, d, "customer")
        .select(col("c_custkey").as("cust"), col("c_acctbal").as("bal0"))
      val t0 = tlit("1995-07-01 00:00:00")
      val t1 = tlit("1998-01-01 00:00:00")
      val t2 = tlit("1998-06-01 00:00:00")
      val spec = MergeSpec(Seq("cust", "valid_from"), Seq("bal", "valid_to"))
      val (dir, tbl) = Artifacts.fold(s, d, s"mor_bitemp_${contentEpoch(c, "cust")}") { (dir, tbl) =>
        if (!MergeOnRead.exists(s, dir, tbl)) {
          val closed = c.select(col("cust"), t0.as("valid_from"),
            (col("bal0") - 50).as("bal"), t1.as("valid_to"))
          val cur = c.select(col("cust"), t1.as("valid_from"),
            col("bal0").as("bal"), lit(null).cast("timestamp").as("valid_to"))
          MergeOnRead.init(closed.unionByName(cur), dir, tbl,
            Seq("cust", "valid_from"))
        }
        // txn 1: restate the CURRENT balance for every 5th customer
        MergeOnRead.deltaMerge(s, dir, tbl,
          c.where(col("cust") % 5 === 0).select(col("cust"),
            t1.as("valid_from"), (col("bal0") + 77).as("bal"),
            lit(null).cast("timestamp").as("valid_to")),
          spec, tlit(tsNow), batchId = 1L)
        // txn 2: close-and-open for every 7th (not 5th) customer —
        // the current version gains valid_to, a new version opens
        val closing = c.where(col("cust") % 7 === 0 && col("cust") % 5 =!= 0)
        MergeOnRead.deltaMerge(s, dir, tbl,
          closing.select(col("cust"), t1.as("valid_from"),
              col("bal0").as("bal"), t2.as("valid_to"))
            .unionByName(closing.select(col("cust"), t2.as("valid_from"),
              (col("bal0") + 100).as("bal"),
              lit(null).cast("timestamp").as("valid_to"))),
          spec, tlit(tsNow), batchId = 2L)
      }
      val facts = rd(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey").as("cust"), col("o_orderdate").as("ts"),
        col("o_totalprice"))
      Seq(1L, 2L).map { asOf =>
        Merge.pointInTime(facts,
          MergeOnRead.readViewAsOf(s, dir, tbl, asOf),
          Seq("cust"), "ts", Seq("bal"))
          .withColumn("asof_txn", lit(asOf))
      }.reduce(_ unionByName _)
    },
      // both believed-history states rebuilt closed-form, each validity
      // LEFT JOINed independently of the operator's as-of machinery
      ("WITH c AS (SELECT c_custkey AS cust, c_acctbal AS bal0 FROM customer), " +
        "h1 AS (SELECT cust, bal0 - 50 AS bal, TIMESTAMP '1995-07-01' AS vf, TIMESTAMP '1998-01-01' AS vt FROM c " +
        "UNION ALL SELECT cust, CASE WHEN cust % 5 = 0 THEN bal0 + 77 ELSE bal0 END, TIMESTAMP '1998-01-01', NULL FROM c), " +
        "h2 AS (SELECT cust, bal0 - 50 AS bal, TIMESTAMP '1995-07-01' AS vf, TIMESTAMP '1998-01-01' AS vt FROM c " +
        "UNION ALL SELECT cust, CASE WHEN cust % 5 = 0 THEN bal0 + 77 ELSE bal0 END, TIMESTAMP '1998-01-01', " +
        "CASE WHEN cust % 7 = 0 AND cust % 5 <> 0 THEN TIMESTAMP '1998-06-01' ELSE NULL END FROM c " +
        "UNION ALL SELECT cust, bal0 + 100, TIMESTAMP '1998-06-01', NULL FROM c WHERE cust % 7 = 0 AND cust % 5 <> 0), " +
        "o AS (SELECT o_orderkey, o_custkey AS cust, o_orderdate AS ts, o_totalprice FROM orders) " +
        "SELECT o.o_orderkey, o.cust, o.ts, o.o_totalprice, h.bal, h.vf AS valid_from, CAST(1 AS BIGINT) AS asof_txn " +
        "FROM o LEFT JOIN h1 h ON h.cust = o.cust AND h.vf <= o.ts AND (h.vt IS NULL OR o.ts < h.vt) " +
        "UNION ALL " +
        "SELECT o.o_orderkey, o.cust, o.ts, o.o_totalprice, h.bal, h.vf AS valid_from, CAST(2 AS BIGINT) AS asof_txn " +
        "FROM o LEFT JOIN h2 h ON h.cust = o.cust AND h.vf <= o.ts AND (h.vt IS NULL OR o.ts < h.vt)")),
    Gate("u6_point_in_time", (s, d) => {
      // temporal join: each order reads the customer balance version
      // valid AT ITS ORDER DATE — the leak-proof feature join over
      // SCD-2 history. Seeded history: a closed 1995-07→1998-01 version
      // (bal-50) for every key; a current version from 1998-01 except
      // every 11th key (deleted → orders after 1998 carry NULLs); orders
      // before 1995-07 predate all versions → NULLs
      val c = rd(s, d, "customer")
      val t0 = to_timestamp(lit("1995-07-01 00:00:00"))
      val t1 = to_timestamp(lit("1998-01-01 00:00:00"))
      val closed = c.select(col("c_custkey").as("cust"),
        (col("c_acctbal") - lit(50)).as("bal"),
        t0.as("valid_from"), t1.as("valid_to"))
      val cur = c.filter(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey").as("cust"), col("c_acctbal").as("bal"),
          t1.as("valid_from"), lit(null).cast("timestamp").as("valid_to"))
      val facts = rd(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey").as("cust"), col("o_orderdate").as("ts"),
        col("o_totalprice"))
      Merge.pointInTime(facts, closed.unionByName(cur), Seq("cust"), "ts", Seq("bal"))
    },
      // independent formulation: the oracle is the naive validity-range
      // LEFT JOIN (at most one version matches by the SCD-2 invariant),
      // not a replay of the as-of carry
      ("WITH hist AS (SELECT c_custkey AS cust, c_acctbal - 50 AS bal, " +
        "TIMESTAMP '1995-07-01' AS valid_from, TIMESTAMP '1998-01-01' AS valid_to FROM customer " +
        "UNION ALL SELECT c_custkey, c_acctbal, TIMESTAMP '1998-01-01', NULL FROM customer WHERE c_custkey % 11 <> 0) " +
        "SELECT o.o_orderkey, o.o_custkey AS cust, o.o_orderdate AS ts, o.o_totalprice, " +
        "h.bal, h.valid_from FROM orders o LEFT JOIN hist h ON h.cust = o.o_custkey " +
        "AND h.valid_from <= o.o_orderdate AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)")),
    Gate("u4_scd2_history", (s, d) => {
      // SCD-2 dimension maintenance on customer: a seeded history (an
      // already-closed 2023 version for every 7th key), then one apply
      // with changed balances (every 3rd key), no-op rows (3k+1 keys),
      // and brand-new keys (+1e6). Deterministic literals throughout so
      // the oracle replays the full before/after history.
      val c = rd(s, d, "customer")
      val t0 = to_timestamp(lit("2023-01-01 00:00:00"))
      val t1 = to_timestamp(lit("2024-01-01 00:00:00"))
      val now = to_timestamp(lit("2024-06-01 00:00:00"))
      val curRows = c.select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_nationkey").as("nk"), t1.as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val closedRows = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"), (col("c_acctbal") - lit(50)).as("bal"),
          col("c_nationkey").as("nk"), t0.as("valid_from"), t1.as("valid_to"))
      val history = curRows.unionByName(closedRows)
      val updates = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"), (col("c_acctbal") + lit(100)).as("bal"),
          col("c_nationkey").as("nk"))
        .unionByName(c.filter(col("c_custkey") % 3 === 1)
          .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
            col("c_nationkey").as("nk")))
        .unionByName(c.filter(col("c_custkey") % 10 === 0)
          .select((col("c_custkey") + 1000000L).as("k"), lit(0.0).as("bal"),
            lit(7L).as("nk")))
      Merge.scd2(history, updates, Seq("k"), Seq("bal", "nk"), now)
    },
      ("WITH cur AS (SELECT c_custkey AS k, c_acctbal AS bal, c_nationkey AS nk, " +
        "TIMESTAMP '2024-01-01' AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to FROM customer), " +
        "closed AS (SELECT c_custkey AS k, c_acctbal - 50 AS bal, c_nationkey AS nk, " +
        "TIMESTAMP '2023-01-01' AS valid_from, TIMESTAMP '2024-01-01' AS valid_to FROM customer WHERE c_custkey % 7 = 0), " +
        "upd AS (SELECT c_custkey AS k, c_acctbal + 100 AS bal, c_nationkey AS nk FROM customer WHERE c_custkey % 3 = 0 " +
        "UNION ALL SELECT c_custkey, c_acctbal, c_nationkey FROM customer WHERE c_custkey % 3 = 1 " +
        "UNION ALL SELECT c_custkey + 1000000, 0.0, 7 FROM customer WHERE c_custkey % 10 = 0), " +
        "j AS (SELECT cur.k AS tk, cur.bal AS tbal, cur.nk AS tnk, cur.valid_from AS tvf, " +
        "upd.k AS sk, upd.bal AS sbal, upd.nk AS snk, " +
        "(cur.k IS NOT NULL AND upd.k IS NOT NULL AND " +
        "(cur.bal IS DISTINCT FROM upd.bal OR cur.nk IS DISTINCT FROM upd.nk)) AS changed " +
        "FROM cur FULL JOIN upd ON cur.k = upd.k) " +
        "SELECT tk AS k, tbal AS bal, tnk AS nk, tvf AS valid_from, TIMESTAMP '2024-06-01' AS valid_to FROM j WHERE changed " +
        "UNION ALL SELECT sk, sbal, snk, TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP) FROM j WHERE sk IS NOT NULL AND (tk IS NULL OR changed) " +
        "UNION ALL SELECT tk, tbal, tnk, tvf, CAST(NULL AS TIMESTAMP) FROM j WHERE tk IS NOT NULL AND NOT changed " +
        "UNION ALL SELECT k, bal, nk, valid_from, valid_to FROM closed")),
    Gate("r_overlap_join", (s, d) => {
      // view/purchase attention-window overlap per user: each event
      // spans [ts, ts + 4min..8h] (deterministic id-derived length);
      // the grid width (4 h) is near the typical interval length so
      // the blow-up factor stays ~2-3 cells per interval
      val ev = rd(s, d, "events")
      def iv(t: String) = ev.filter(col("event_type") === t).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) +
          (lit(1L) + col("event_id") % 120L) * 240000000L).as("hi"))
      RangeJoin.overlapJoin(iv("view"), iv("purchase"), "lo", "hi",
        width = 14400000000L, keyCols = Seq("user_id"))
        .select(col("user_id"), col("event_id").as("view_id"),
          col("event_id_r").as("purchase_id"))
    },
      // independent naive formulation (plain inequality join) — shares no
      // structure with the operator's grid-cell decomposition
      ("WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS lo, " +
        "epoch_us(ts) + (1 + event_id % 120) * 240000000 AS hi " +
        "FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, event_id, epoch_us(ts) AS lo, " +
        "epoch_us(ts) + (1 + event_id % 120) * 240000000 AS hi " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id " +
        "FROM v JOIN p ON v.user_id = p.user_id AND v.lo < p.hi AND p.lo < v.hi")),
    Gate("pack_token_budget", (s, d) =>
      // shard assembly: pack each source's docs into ~5000-char bins
      // (prefix-sum binning — overflow bounded by one doc)
      Sampling.packByBudget(rd(s, d, "documents")
        .select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", budget = 5000L),
      ("SELECT doc_id, source, n_chars, CAST(floor(coalesce(sum(n_chars) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000) AS INT) AS bin " +
        "FROM documents")),
    Gate("pack_context_seqs", (s, d) =>
      // GPT-style packing manifest: the corpus token stream in doc_id
      // order cut into 32-token context windows, docs crossing window
      // boundaries; one row per (doc, window) span. The global token
      // offset is a two-level range prefix sum — no global window
      Sampling.packContextStream(
        rd(s, d, "documents").select(col("doc_id"),
          size(filter(graft.functions.tokens(col("text")), t => t =!= ""))
            .cast("long").as("n_toks")),
        "doc_id", "n_toks", capacity = 32),
      ("WITH toks AS (SELECT doc_id, CAST(len([t for t in regexp_split_to_array(lower(trim(text)), '\\s+') if t <> '']) AS BIGINT) AS n FROM documents), " +
        "f AS (SELECT * FROM toks WHERE n > 0), " +
        "offs AS (SELECT doc_id, n, CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM f), " +
        "expl AS (SELECT doc_id, s, s + n AS e, unnest(generate_series(s // 32, (s + n - 1) // 32)) AS seq_id FROM offs) " +
        "SELECT doc_id, seq_id, greatest(s, seq_id * 32) - seq_id * 32 AS begin_in_seq, " +
        "least(e, (seq_id + 1) * 32) - greatest(s, seq_id * 32) AS n_in_seq FROM expl")),
    Gate("sample_weighted", (s, d) =>
      // length-proportional sampling: longer docs survive more often
      // (p = n_chars/600), decision a pure function of salt+doc_id
      Sampling.weightedKeep(rd(s, d, "documents"), "doc_id", "n_chars", "wk1", 600L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars")),
      (s"WITH kept AS (SELECT source, n_chars FROM documents WHERE ${OracleSql.weightedKeepWhere(
        "CAST(doc_id AS VARCHAR)", "n_chars", "wk1", 600L)}) " +
        "SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM kept GROUP BY source")),
    Gate("sample_es_topk", (s, d) =>
      // weighted WITHOUT-replacement: exactly 50 docs, inclusion
      // pushed toward length via the derandomized exponential-race
      // keys (Efraimidis–Spirakis); one distributed top-k, no global
      // sort, identical sample on every retry and in the oracle
      Sampling.weightedTopK(rd(s, d, "documents"), "doc_id", "n_chars",
        salt = "es1", k = 50),
      ("WITH keyed AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, " +
        "ln(((CAST(('0x' || substr(md5('es1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)) " +
        "/ CAST(n_chars AS DOUBLE) AS es_key " +
        "FROM documents WHERE CAST(n_chars AS BIGINT) > 0), " +
        "topk AS (SELECT * FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50) " +
        "SELECT doc_id, n_chars, es_key, " +
        "CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INT) AS rnk FROM topk")),
    Gate("sample_kcenter", (s, d) =>
      // diversity selection: 6 greedy k-center picks over the embedding
      // space (Gonzalez farthest-point, deterministic seed + tie-break)
      Sampling.kCenterSelect(rd(s, d, "embeddings"), k = 6),
      OracleSql.sampleKCenter(6)),
    Gate("relevance_sample", (s, d) =>
      // DSIR-flavored data selection: relevance = target-lexicon token
      // occurrences (exact integer), then importance-resample with
      // p = n_relevant/30 — broadcast lexicon probe + deterministic keep
      Sampling.weightedKeep(
        TextAnalysis.lexiconRelevance(rd(s, d, "documents"),
          Seq("join", "hash", "scan", "filter", "merge")),
        "doc_id", "n_relevant", "dsir1", 30L),
      ("WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
        "r0 AS (SELECT doc_id, count(*) AS n_rel FROM tk WHERE tok IN ('join','hash','scan','filter','merge') GROUP BY doc_id), " +
        "rel AS (SELECT d.doc_id, CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+')) AS INT) AS n_tokens, " +
        "COALESCE(r0.n_rel, 0) AS n_relevant FROM documents d LEFT JOIN r0 USING (doc_id)) " +
        s"SELECT doc_id, n_tokens, n_relevant FROM rel WHERE ${OracleSql.weightedKeepWhere(
          "CAST(doc_id AS VARCHAR)", "n_relevant", "dsir1", 30L)}")),
    Gate("quality_adaptive_gate", (s, d) => {
      // adaptive per-source quality floor: drop each source's worst
      // quartile by stopword density (cutoff learned per group via
      // percentile_disc — a data value, bit-exact across engines)
      val docs = rd(s, d, "documents")
      val q = TextAnalysis.qualitySignals(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "stopword_hits")
      graft.operators.Quality.adaptivePercentileGate(q, "stopword_hits", "source", 0.25)
        .select("doc_id", "source", "stopword_hits", "stopword_hits_cut")
    },
      (s"WITH q AS (SELECT doc_id, source, ${occSql("' ' || lower(trim(text)) || ' '", " the ")} + " +
        s"${occSql("' ' || lower(trim(text)) || ' '", " a ")} AS stopword_hits FROM documents), " +
        "c AS (SELECT source, percentile_disc(0.25) WITHIN GROUP (ORDER BY stopword_hits) AS stopword_hits_cut " +
        "FROM q GROUP BY source) " +
        "SELECT q.doc_id, q.source, q.stopword_hits, c.stopword_hits_cut FROM q JOIN c USING (source) " +
        "WHERE q.stopword_hits >= c.stopword_hits_cut")),
    Gate("q_grouping_sets", (s, d) => {
      // explicit GROUPING SETS (rollup/cube are the sugared forms —
      // q_rollup/q_cube): chosen aggregation levels only, with the
      // grouping-bit marker distinguishing NULL-as-total from NULL data
      val v = Views.unique("orders")
      rd(s, d, "orders").createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT o_orderstatus, o_orderpriority, " +
          "CAST(grouping(o_orderstatus) AS INT) AS g_status, " +
          "CAST(grouping(o_orderpriority) AS INT) AS g_prio, " +
          "count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
          s"FROM $v GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())")
      s.catalog.dropTempView(v)
      out
    },
      ("SELECT o_orderstatus, o_orderpriority, " +
        "CAST(grouping(o_orderstatus) AS INT) AS g_status, " +
        "CAST(grouping(o_orderpriority) AS INT) AS g_prio, " +
        "count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())")),
    Gate("q_lateral_topn", (s, d) => {
      // correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
      // other spelling of top-n-per-group (w1 is the window form);
      // Catalyst decorrelates it into a ranked join
      val vo = Views.unique("orders")
      val vc = Views.unique("customer")
      rd(s, d, "orders").createOrReplaceTempView(vo)
      rd(s, d, "customer").createOrReplaceTempView(vc)
      val out = s.sql(
        s"SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM $vc c, " +
          s"LATERAL (SELECT o_orderkey, o_totalprice FROM $vo o WHERE o.o_custkey = c.c_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t")
      s.catalog.dropTempView(vo)
      s.catalog.dropTempView(vc)
      out
    },
      ("SELECT c.c_custkey, t.o_orderkey, t.o_totalprice FROM customer c, " +
        "LATERAL (SELECT o_orderkey, o_totalprice FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t")),
    Gate("q_corr_subquery", (s, d) => {
      // correlated scalar subqueries (Catalyst decorrelates them into
      // joins): orders above their customer's average price. The
      // comparison is integer cross-multiplication — cents · count >
      // sum-of-cents — so no float average sits on the decision boundary
      val v = Views.unique("orders")
      rd(s, d, "orders").createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM " + v + " o " +
          "WHERE CAST(round(o_totalprice * 100) AS BIGINT) * " +
          s"(SELECT count(*) FROM $v i WHERE i.o_custkey = o.o_custkey) > " +
          s"(SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) " +
          s"FROM $v i WHERE i.o_custkey = o.o_custkey)")
      s.catalog.dropTempView(v)
      out
    },
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders o " +
        "WHERE CAST(round(o_totalprice * 100) AS BIGINT) * " +
        "(SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey) > " +
        "(SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) " +
        "FROM orders i WHERE i.o_custkey = o.o_custkey)")),
    Gate("q_quantiles", (s, d) => {
      // exact discrete quantiles per group: percentile_disc picks an
      // actual data value (no interpolation arithmetic), so the double
      // passes through bit-identically in both engines
      val v = Views.unique("events")
      rd(s, d, "events").createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT event_type, percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50, " +
          "percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90, " +
          s"min(value) AS min_v, max(value) AS max_v FROM $v GROUP BY event_type")
      s.catalog.dropTempView(v)
      out
    },
      ("SELECT event_type, percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50, " +
        "percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90, " +
        "min(value) AS min_v, max(value) AS max_v FROM events GROUP BY event_type")),
    Gate("q_grid_quantiles", (s, d) =>
      // the combinable scale tier beside q_quantiles' exact full-sort:
      // two histogram passes, error bounded by one cell width
      graft.operators.Quantiles.gridQuantiles(
        rd(s, d, "events"), "value", "event_type", Seq(0.5, 0.9), 256),
      // bit-exact replay of Quantiles.gridQuantiles: identical IEEE
      // expression shapes ((v-lo)/(hi-lo)*cells; lo+(qb+1)*(hi-lo)/cells)
      ("WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi, count(*) AS n FROM events GROUP BY event_type), " +
        "bk AS (SELECT e.event_type, b.n, b.lo, b.hi, CASE WHEN b.hi = b.lo THEN 0 " +
        "ELSE CAST(LEAST(GREATEST(floor((e.value - b.lo) / (b.hi - b.lo) * 256), 0), 255) AS BIGINT) END AS bkt " +
        "FROM events e JOIN b ON b.event_type = e.event_type), " +
        "h AS (SELECT event_type, n, lo, hi, bkt, count(*) AS c FROM bk GROUP BY 1, 2, 3, 4, 5), " +
        "cm AS (SELECT event_type, n, lo, hi, bkt, sum(c) OVER (PARTITION BY event_type ORDER BY bkt) AS cum FROM h), " +
        "pr AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))) pv(p)), " +
        "q AS (SELECT cm.event_type, pr.p, cm.n, cm.lo, cm.hi, min(cm.bkt) AS qb FROM cm JOIN pr " +
        "ON cm.cum >= CAST(ceil(pr.p * cm.n) AS BIGINT) GROUP BY 1, 2, 3, 4, 5) " +
        "SELECT event_type, p, n, CASE WHEN hi = lo THEN lo " +
        "ELSE lo + CAST(qb + 1 AS DOUBLE) * (hi - lo) / 256 END AS est FROM q")),
    Gate("q_weighted_median", (s, d) =>
      // token-mass median doc length per source: the length where half
      // the corpus's character MASS sits in shorter docs — exact
      // integer 2·cum >= total rule over the collapsed value table
      graft.operators.Quantiles.weightedMedian(
        rd(s, d, "documents"), "source", "n_chars", "n_chars"),
      ("WITH bv AS (SELECT source, n_chars, CAST(sum(n_chars) AS BIGINT) AS w FROM documents " +
        "GROUP BY source, n_chars), " +
        "c AS (SELECT source, n_chars, sum(w) OVER (PARTITION BY source ORDER BY n_chars " +
        "ROWS UNBOUNDED PRECEDING) AS cum, sum(w) OVER (PARTITION BY source) AS tot FROM bv) " +
        "SELECT source, min(n_chars) AS w_median FROM c WHERE cum * 2 >= tot GROUP BY source")),
    Gate("quality_outliers", (s, d) => {
      // Tukey-fence outlier counts per group: fences built from
      // percentile_disc values (data points), fence arithmetic is the
      // same IEEE expression in both engines
      val v = Views.unique("events")
      rd(s, d, "events").createOrReplaceTempView(v)
      val out = s.sql(outlierSql(v))
      s.catalog.dropTempView(v)
      out
    },
      outlierSql("events")),
    Gate("quality_winsorized", (s, d) => {
      // robust location: clamp to the [p05, p95] data points (integer
      // cents, so the clamped sum is an exact long and the mean is ONE
      // double division — never a float sum). Same SQL text both
      // engines, like the MAD and Tukey siblings
      val v = Views.unique("events")
      rd(s, d, "events").createOrReplaceTempView(v)
      val out = s.sql(winsorizedSql(v))
      s.catalog.dropTempView(v)
      out
    },
      winsorizedSql("events")),
    Gate("eval_cohens_kappa", (s, d) => {
      // chance-corrected agreement of the centroid classifier vs the
      // true labels — the scalar the confusion matrix report rolls up
      // to; all marginals exact longs, kappa = (n·Σdiag − Σr·c)/(n² −
      // Σr·c) as one double expression
      val pred = Similarity.classifyByCentroid(rd(s, d, "embeddings"),
        col("vec_id") % 5 === 0)
      val cells = pred.groupBy("label", "pred_label")
        .agg(count(lit(1)).as("c"))
      val t = cells.agg(sum(col("c")).as("n"),
        sum(when(col("label") === col("pred_label"), col("c")).otherwise(0L))
          .as("n_agree"))
      val r = cells.groupBy("label").agg(sum(col("c")).as("r"))
      val k = cells.groupBy("pred_label").agg(sum(col("c")).as("k"))
      val rc = r.join(k, col("label") === col("pred_label"))
        .agg(coalesce(sum(col("r") * col("k")), lit(0L)).as("rc"))
      val nD = col("n").cast("double")
      t.crossJoin(rc).select(col("n"), col("n_agree"),
        ((nD * col("n_agree").cast("double") - col("rc").cast("double")) /
          (nD * nD - col("rc").cast("double"))).as("kappa"))
    },
      {
        val ctes = OracleSql.classifyCentroidCtes("vec_id % 5 = 0")
        s"WITH $ctes, " +
          "cells AS (SELECT label, pred_label, count(*) AS c FROM pred GROUP BY 1, 2), " +
          "t AS (SELECT CAST(sum(c) AS BIGINT) AS n, " +
          "CAST(sum(CASE WHEN label = pred_label THEN c ELSE 0 END) AS BIGINT) AS n_agree FROM cells), " +
          "r AS (SELECT label, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY 1), " +
          "k AS (SELECT pred_label, CAST(sum(c) AS BIGINT) AS k FROM cells GROUP BY 1), " +
          "rc AS (SELECT CAST(coalesce(sum(r.r * k.k), 0) AS BIGINT) AS rc FROM r JOIN k ON k.pred_label = r.label) " +
          "SELECT n, n_agree, " +
          "(CAST(n AS DOUBLE) * CAST(n_agree AS DOUBLE) - CAST(rc AS DOUBLE)) / " +
          "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(rc AS DOUBLE)) AS kappa FROM t, rc"
      }),
    Gate("text_token_gini", (s, d) => {
      // token-frequency concentration per source (Gini on the exact
      // ppm grid): 0 = every token equally common, →1 = mass piled on
      // few tokens — the lexical-diversity audit beside the OOV and
      // vocab curves. The rank window is vocabulary-sized per source
      // (the novelty-curve bound; range-partition + zipWithIndex swaps
      // in for corpus-scale vocabularies)
      val toks = rd(s, d, "documents")
        .select(col("source"), explode(graft.functions.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val f = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("source").orderBy(col("c"), col("tok"))
      f.withColumn("rk", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("v"), sum(col("c")).as("tf"),
          sum(col("rk") * col("c")).as("rf"))
        .select(col("source"), col("v"), col("tf"),
          expr("(2 * rf - (v + 1) * tf) * 1000000 div (v * tf)").as("gini_ppm"))
    },
      ("WITH tk AS (SELECT source, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok FROM documents), " +
        "fq AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2), " +
        "r AS (SELECT source, c, row_number() OVER (PARTITION BY source ORDER BY c, tok) AS rk FROM fq), " +
        "a AS (SELECT source, count(*) AS v, CAST(sum(c) AS BIGINT) AS tf, " +
        "CAST(sum(rk * c) AS BIGINT) AS rf FROM r GROUP BY 1) " +
        "SELECT source, v, tf, CAST((2 * rf - (v + 1) * tf) * 1000000 // (v * tf) AS BIGINT) AS gini_ppm FROM a")),
    Gate("dq_benford", (s, d) => {
      // first-digit distribution vs Benford's law — the classic
      // fabricated-or-truncated-data audit for financial columns.
      // Digits read off the exact integer cents' decimal string (no
      // log10 floats); shares and deviations on the integer ppm grid
      val units = round(col("l_extendedprice") * 100).cast("long")
      val digits = rd(s, d, "lineitem")
        .select(substring(units.cast("string"), 1, 1).as("digit"))
      val counts = digits.groupBy("digit").agg(count(lit(1)).as("n"))
      val total = digits.agg(count(lit(1)).as("__t"))
      val expected = benfordPpm.tail.foldLeft(
          when(col("digit") === benfordPpm.head._1, lit(benfordPpm.head._2))) {
        case (acc, (dg, ppm)) => acc.when(col("digit") === dg, lit(ppm))
      }
      counts.crossJoin(broadcast(total))
        .withColumn("share_ppm", expr("n * 1000000 div __t"))
        .withColumn("benford_ppm", expected)
        .select(col("digit"), col("n"), col("share_ppm"), col("benford_ppm"),
          abs(col("share_ppm") - col("benford_ppm")).as("dev_ppm"))
    },
      {
        val caseExpr = "CASE digit " + benfordPpm
          .map { case (dg, ppm) => s"WHEN '$dg' THEN $ppm" }.mkString(" ") + " END"
        "WITH d AS (SELECT substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit FROM lineitem), " +
          "c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1), " +
          "t AS (SELECT count(*) AS tt FROM d) " +
          "SELECT digit, n, CAST(n * 1000000 // tt AS BIGINT) AS share_ppm, " +
          s"$caseExpr AS benford_ppm, " +
          s"abs(CAST(n * 1000000 // tt AS BIGINT) - $caseExpr) AS dev_ppm " +
          "FROM c, t"
      }),
    Gate("q_cumulative_users", (s, d) => {
      // growth accounting: per-day new users (first-seen) and the
      // cumulative user count — distinct-so-far WITHOUT an expanding
      // distinct window: each user collapses to one first-seen day
      // (combinable min), then a day-grain running sum over a table of
      // at most #days rows
      val firstSeen = rd(s, d, "events")
        .groupBy("user_id")
        .agg(min(date_trunc("day", col("ts"))).as("day"))
      val daily = firstSeen.groupBy("day").agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the running-sum window is over day-cardinality rows (30 at this
      // fixture, ~10^4 for decades) — a bounded single partition by
      // construction, not a data-scale sort
      daily.withColumn("cum_users", sum(col("new_users")).over(w))
    },
      ("WITH fs AS (SELECT user_id, min(date_trunc('day', ts)) AS day FROM events GROUP BY 1), " +
        "d AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1) " +
        "SELECT day, new_users, CAST(sum(new_users) OVER " +
        "(ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users FROM d")),
    Gate("q_dod_growth", (s, d) => {
      // period-over-period: daily revenue per type with lag-window
      // growth on the exact ppm grid (positive-operand division only,
      // so floor-vs-trunc semantics can never diverge across engines)
      val cents = round(col("value") * 100).cast("long")
      val m = rd(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(sum(cents).as("units"))
      val w = Window.partitionBy("event_type").orderBy("day")
      m.withColumn("prev_units", lag(col("units"), 1).over(w))
        .withColumn("growth_ppm",
          when(col("prev_units") > 0,
            expr("(units * 1000000 div prev_units) - 1000000")))
    },
      ("WITH m AS (SELECT date_trunc('day', ts) AS day, event_type, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS units " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT day, event_type, units, lag(units, 1) OVER w AS prev_units, " +
        "CASE WHEN lag(units, 1) OVER w > 0 THEN " +
        "(units * 1000000 // lag(units, 1) OVER w) - 1000000 END AS growth_ppm " +
        "FROM m WINDOW w AS (PARTITION BY event_type ORDER BY day)")),
    Gate("dq_robust_mad", (s, d) => {
      // robust outliers via median/MAD (modified z-score > 3.5): the
      // median is immune to the very outliers a mean/stddev fence gets
      // dragged by — the robust sibling of quality_outliers' Tukey
      // fences. Same SQL text runs in both engines (percentile_disc
      // picks data points, so no interpolation arithmetic to align).
      val v = Views.unique("events")
      rd(s, d, "events").createOrReplaceTempView(v)
      val out = s.sql(robustMadSql(v))
      s.catalog.dropTempView(v)
      out
    },
      robustMadSql("events")),
    Gate("funnel_conversion", (s, d) => {
      // sequence analytics: first view -> first subsequent purchase per
      // user, converted within 24h flag (exact µs arithmetic)
      val ev = rd(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .join(views, "user_id")
        .filter(col("ts") > col("first_view"))
        .groupBy("user_id").agg(min(col("ts")).as("first_purchase"))
      views.join(purchases, Seq("user_id"), "left")
        .select(col("user_id"), col("first_view"), col("first_purchase"),
          when(col("first_purchase").isNotNull &&
            (unix_micros(col("first_purchase")) - unix_micros(col("first_view")) <=
              86400000000L), 1).otherwise(0).as("converted_24h"))
    },
      ("WITH v AS (SELECT user_id, min(ts) AS first_view FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "p AS (SELECT e.user_id, min(e.ts) AS first_purchase FROM events e JOIN v ON v.user_id = e.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > v.first_view GROUP BY e.user_id) " +
        "SELECT v.user_id, v.first_view, p.first_purchase, " +
        "CASE WHEN p.first_purchase IS NOT NULL AND epoch_us(p.first_purchase) - epoch_us(v.first_view) <= 86400000000 " +
        "THEN 1 ELSE 0 END AS converted_24h FROM v LEFT JOIN p ON p.user_id = v.user_id")),
    Gate("funnel_3step", (s, d) => {
      // three-step funnel by chained forward as-of joins: first signup
      // -> earliest view at-or-after it -> earliest purchase at-or-after
      // that view; users stalled mid-funnel carry nulls forward
      val ev = rd(s, d, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val s0 = ev.filter(col("event_type") === "signup")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val step1 = AsOf.asofJoinForward(s0, views, Seq("user_id"), "ts",
        tieCol = "view_id", payloadCols = Seq("view_id"), matchedTsCol = "view_ts")
      val reached = AsOf.asofJoinForward(
        step1.filter(col("view_ts").isNotNull).drop("ts")
          .withColumn("ts", col("view_ts")),
        purchases, Seq("user_id"), "ts",
        tieCol = "purchase_id", payloadCols = Seq("purchase_id"),
        matchedTsCol = "purchase_ts").drop("ts")
      val stalled = step1.filter(col("view_ts").isNull).drop("ts")
        .withColumn("purchase_id", lit(null).cast("long"))
        .withColumn("purchase_ts", lit(null).cast("timestamp"))
      reached.unionByName(stalled)
        .select("user_id", "signup_ts", "view_id", "view_ts",
          "purchase_id", "purchase_ts")
    },
      ("WITH s AS (SELECT user_id, ts AS signup_ts FROM (SELECT user_id, ts, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "FROM events WHERE event_type = 'signup') t WHERE rn = 1), " +
        // earliest view at-or-after signup; same tie rule as the
        // operator (equal ts -> highest event id)
        "v AS (SELECT user_id, signup_ts, view_id, view_ts FROM (" +
        "SELECT s.user_id, s.signup_ts, r.event_id AS view_id, r.ts AS view_ts, " +
        "row_number() OVER (PARTITION BY s.user_id ORDER BY r.ts, r.event_id DESC) AS rn " +
        "FROM s LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON r.user_id = s.user_id AND r.ts >= s.signup_ts) t WHERE rn = 1), " +
        "p AS (SELECT user_id, purchase_id, purchase_ts FROM (" +
        "SELECT v.user_id, r.event_id AS purchase_id, r.ts AS purchase_ts, " +
        "row_number() OVER (PARTITION BY v.user_id ORDER BY r.ts, r.event_id DESC) AS rn " +
        "FROM v LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r " +
        "ON r.user_id = v.user_id AND r.ts >= v.view_ts WHERE v.view_ts IS NOT NULL) t WHERE rn = 1) " +
        "SELECT v.user_id, v.signup_ts, v.view_id, v.view_ts, p.purchase_id, p.purchase_ts " +
        "FROM v LEFT JOIN p USING (user_id)")),
    Gate("cohort_retention", (s, d) => {
      // weekly cohort retention matrix: cohort = week of a user's first
      // event; n_active = distinct cohort users seen in week cohort+k
      val ev = rd(s, d, "events")
      val cohort = ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
      val active = ev.select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("active_week")).distinct()
      active.join(cohort, "user_id")
        .withColumn("week_offset",
          (datediff(col("active_week"), col("cohort_week")) / 7).cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
    },
      ("WITH c AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week " +
        "FROM events GROUP BY user_id), " +
        "a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week FROM events) " +
        "SELECT c.cohort_week, CAST((a.active_week - c.cohort_week) // 7 AS INT) AS week_offset, " +
        "count(*) AS n_active FROM a JOIN c USING (user_id) GROUP BY 1, 2")),
    Gate("q_gaps_islands", (s, d) => {
      // gaps-and-islands: longest consecutive-day activity streak per
      // user (island id = day minus dense row number; tie -> earliest)
      val days = rd(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val rn = Window.partitionBy("user_id").orderBy("d")
      val islands = days
        .withColumn("grp", date_sub(col("d"), row_number().over(rn)))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).cast("int").as("streak_days"), min(col("d")).as("streak_start"))
      val best = Window.partitionBy("user_id")
        .orderBy(col("streak_days").desc, col("streak_start"))
      islands.withColumn("__rk", row_number().over(best)).filter(col("__rk") === 1)
        .select("user_id", "streak_days", "streak_start")
    },
      ("WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "i AS (SELECT user_id, d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp, d FROM d), " +
        "st AS (SELECT user_id, CAST(count(*) AS INT) AS streak_days, min(d) AS streak_start " +
        "FROM i GROUP BY user_id, grp) " +
        "SELECT user_id, streak_days, streak_start FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY streak_days DESC, streak_start) AS rk " +
        "FROM st) t WHERE rk = 1")),
    Gate("sketch_kmv_set_ops", (s, d) => {
      // cross-dataset overlap from two KMV sketches: viewer vs
      // purchaser user sets — |A|, |B|, union and intersection
      // estimates, all from 32 hashes per side
      val ev = rd(s, d, "events")
      graft.operators.Sketches.kmvSetEstimates(
        ev.filter(col("event_type") === "view").select("user_id"),
        ev.filter(col("event_type") === "purchase").select("user_id"),
        "user_id", k = 32)
    },
      OracleSql.kmvSetOps(32,
        "event_type = 'view'", "event_type = 'purchase'")),
    Gate("sketch_cm_collisions", (s, d) =>
      // Count-Min in the LOSSY regime (width 256 vs 2000 parts —
      // collisions guaranteed), complementing sketch_count_min's
      // collision-free exact gate: depth×width fixed-size mergeable
      // registers (one combinable groupBy — constant-size state
      // regardless of input), estimates always >= truth, and the
      // collision error itself replays byte-for-byte in the oracle
      // via the seeded rolling hash
      graft.operators.Sketches.heavyHitters(
        rd(s, d, "lineitem"), col("l_partkey"), topK = 20),
      OracleSql.sketchHeavyHitters("lineitem", "l_partkey")),
    Gate("sketch_kmv_distinct", (s, d) => {
      // KMV distinct-user sketch per event type next to the exact count;
      // portable hash -> the estimate itself is oracle-checked
      val k = 32
      val kmv = udaf(new KmvAgg(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      val h32 = mixed_hash32(
        concat_ws(":", lit("kmv"), col("user_id").cast("string")))
      rd(s, d, "events")
        .select(col("event_type"), col("user_id"), h32.as("h"))
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"), kmv(col("h")).as("mins"))
        .select(col("event_type"), col("n_exact"),
          size(col("mins")).as("n_kept"),
          element_at(col("mins"), -1).as("kth_min"),
          when(size(col("mins")) < k, size(col("mins")).cast("bigint"))
            .otherwise(expr(s"CAST(${(k - 1).toLong * 4294967296L}L DIV element_at(mins, -1) AS BIGINT)"))
            .as("est_distinct"))
    },
      OracleSql.kmvDistinct(32)),
    Gate("sketch_hll_registers", (s, d) =>
      // HyperLogLog register table per event type — the m-bounded,
      // max-mergeable distinct sketch (see Sketches.hllRegisters)
      Sketches.hllRegisters(rd(s, d, "events"), "event_type", "user_id", 64),
      OracleSql.hllRegisters(64)),
    Gate("sketch_hll_rolling", (s, d) =>
      // rolling 7-day distinct users per day from mergeable daily HLL
      // sketches: register max over a RANGE window, integer state and
      // a pinned ppk estimator — the unbounded-key WAU analog
      Sketches.hllRollingDistinct(rd(s, d, "events"),
        to_date(col("ts")), "user_id", m = 64, windowDays = 7),
      ("WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events), " +
        "regs AS (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS reg), " +
        "grid AS (SELECT d, reg FROM days CROSS JOIN regs), " +
        "rj AS (SELECT * FROM (" + OracleSql.hllRegistersOver(64,
          "(SELECT CAST(ts AS DATE) AS d, user_id FROM events)", "d", "user_id") + ")), " +
        "j AS (SELECT g.d, g.reg, rj.max_rho, " +
        "date_diff('day', DATE '1970-01-01', g.d) AS x " +
        "FROM grid g LEFT JOIN rj ON rj.d = g.d AND rj.reg = g.reg), " +
        "wnd AS (SELECT d, reg, max(max_rho) OVER " +
        "(PARTITION BY reg ORDER BY x RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rho7 FROM j), " +
        "agg AS (SELECT d, CAST(count(rho7) AS BIGINT) AS regs_hit, " +
        "CAST(sum(1::BIGINT << (27 - coalesce(rho7, 0))) AS BIGINT) AS s_sum FROM wnd GROUP BY 1) " +
        "SELECT d, regs_hit, s_sum, " +
        "CAST((709 * 64::BIGINT * 64 * (1::BIGINT << 27)) // (1000 * s_sum) AS BIGINT) AS est_window " +
        "FROM agg")),
    Gate("sketch_hll_rollup", (s, d) => {
      // sketch ONCE at nation grain, serve region by register max —
      // the oracle rebuilds directly at region level and must match
      // bit-for-bit (max associativity)
      val nat = rd(s, d, "nation").select("n_nationkey", "n_regionkey")
      val cust = rd(s, d, "customer")
        .select(col("c_nationkey").as("n_nationkey"), col("c_custkey"))
      Sketches.hllMergeRegisters(
        Sketches.hllRegisters(cust, "n_nationkey", "c_custkey", 64),
        nat, "n_nationkey", "n_regionkey")
    },
      OracleSql.hllRegistersOver(64,
        "customer JOIN nation ON n_nationkey = c_nationkey",
        "n_regionkey", "c_custkey")),
    Gate("text_oov_rate", (s, d) =>
      // tokenizer-coverage audit: per-doc OOV ppm against the corpus's
      // own top-100 vocabulary (rank ties break lexicographically)
      TextAnalysis.oovRate(rd(s, d, "documents"), vocabSize = 100),
      ("WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
        "tf AS (SELECT * FROM tk WHERE tok <> ''), " +
        "vc AS (SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn FROM tf GROUP BY tok), " +
        "vv AS (SELECT tok FROM vc WHERE rn <= 100), " +
        "j AS (SELECT tf.doc_id, CAST(vv.tok IS NULL AS INT) AS oov FROM tf LEFT JOIN vv ON vv.tok = tf.tok) " +
        "SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "CAST((sum(oov) * 1000000) // count(*) AS BIGINT) AS oov_ppm FROM j GROUP BY doc_id")),
    Gate("sample_negatives", (s, d) => {
      // contrastive negative mining: 5 cross-source negatives per
      // anchor, per-anchor independent md5 permutation
      val docs = rd(s, d, "documents")
      Sampling.negativeSample(
        docs, docs.filter(col("doc_id") < 10), k = 5, salt = "neg")
    },
      ("WITH a AS (SELECT doc_id AS anchor_id, source AS ag FROM documents WHERE doc_id < 10), " +
        "c AS (SELECT doc_id AS neg_id, source AS cg FROM documents), " +
        "p AS (SELECT anchor_id, neg_id, row_number() OVER (PARTITION BY anchor_id " +
        "ORDER BY md5('neg:' || CAST(anchor_id AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)) NULLS FIRST, " +
        "neg_id NULLS FIRST) AS rk FROM a JOIN c ON cg <> ag) " +
        "SELECT anchor_id, neg_id, CAST(rk AS INT) AS rk FROM p WHERE rk <= 5")),
    Gate("sample_interleave", (s, d) => {
      // reproducible global training order: salted per-source md5 rank
      // striped across sources — batches draw from every source
      val docs = rd(s, d, "documents")
      Sampling.interleaveOrder(docs, "source", "doc_id", salt = "ilv")
        .select("doc_id", "source", "order_key")
    },
      ("WITH si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "n AS (SELECT count(*) AS nsrc FROM si), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('ilv:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk FROM documents) " +
        "SELECT r.doc_id, r.source, CAST(rk * nsrc + sidx AS BIGINT) AS order_key " +
        "FROM r JOIN si USING (source) CROSS JOIN n")),
    Gate("shard_ring_move", (s, d) => {
      // resharding audit: consistent-ring assignment at 8 vs 12 shards
      // over the SAME salt (the 8-shard ring is a subset of the
      // 12-shard ring, so only keys whose successor point is new move
      // — and they move TO the new shards); per-source moved fraction
      // in exact ppm. mod-hash resharding would move ~2/3 of all keys
      val docs = rd(s, d, "documents")
      val a = graft.sources.Layout.consistentShard(
        docs, "doc_id", nShards = 8, vnodes = 16, salt = "ring", outCol = "shard8")
      val b = graft.sources.Layout.consistentShard(
        a, "doc_id", nShards = 12, vnodes = 16, salt = "ring", outCol = "shard12")
      b.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("shard8") =!= col("shard12"), 1L).otherwise(0L))
            .as("n_moved"))
        .withColumn("moved_ppm", expr("n_moved * 1000000 div n_docs"))
    },
      ("WITH r8 AS (SELECT CAST(s.range AS INT) AS shard, " +
        "md5('ring:' || CAST(s.range AS VARCHAR) || ':' || CAST(v.range AS VARCHAR)) AS pt " +
        "FROM range(8) s, range(16) v), " +
        "r12 AS (SELECT CAST(s.range AS INT) AS shard, " +
        "md5('ring:' || CAST(s.range AS VARCHAR) || ':' || CAST(v.range AS VARCHAR)) AS pt " +
        "FROM range(12) s, range(16) v), " +
        "k AS (SELECT doc_id, source, md5('ring:key:' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "a8 AS (SELECT k.doc_id, k.source, " +
        "coalesce(arg_min(r.shard, r.pt), (SELECT arg_min(shard, pt) FROM r8)) AS sh8 " +
        "FROM k LEFT JOIN r8 r ON r.pt >= k.h GROUP BY k.doc_id, k.source), " +
        "a12 AS (SELECT k.doc_id, " +
        "coalesce(arg_min(r.shard, r.pt), (SELECT arg_min(shard, pt) FROM r12)) AS sh12 " +
        "FROM k LEFT JOIN r12 r ON r.pt >= k.h GROUP BY k.doc_id), " +
        "j AS (SELECT a8.source, a8.sh8, a12.sh12 FROM a8 JOIN a12 ON a8.doc_id = a12.doc_id) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN sh8 <> sh12 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved, " +
        "CAST((sum(CASE WHEN sh8 <> sh12 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS moved_ppm " +
        "FROM j GROUP BY source")),
    Gate("shard_rendezvous", (s, d) => {
      // rendezvous (HRW) resharding audit: per 8-shard assignment, how
      // many keys relocate when shard 8 is ADDED — and the machine
      // check that every relocation goes TO the new shard (n_misplaced
      // must be 0: a key's relative order among surviving shards can't
      // change under highest-random-weight)
      val keys = rd(s, d, "orders").select(col("o_orderkey").as("k"))
      val a8 = graft.sources.Layout.rendezvousShard(keys, "k", 8,
        salt = "hrw1", outCol = "s8")
      val a9 = graft.sources.Layout.rendezvousShard(keys, "k", 9,
        salt = "hrw1", outCol = "s9")
      a8.join(a9, "k").groupBy("s8")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("s9") === 8, 1L).otherwise(0L)).as("n_moved"),
          sum(when(col("s9") =!= col("s8") && col("s9") =!= 8, 1L).otherwise(0L))
            .as("n_misplaced"))
        .withColumn("moved_ppm", expr("n_moved * 1000000 div n_keys"))
    },
      OracleSql.shardRendezvous(8, 9, "hrw1")),
    Gate("pack_length_buckets", (s, d) => {
      // dynamic-padding accounting: next-pow2 length buckets per
      // source, padding waste in exact integer ppm
      val docs = rd(s, d, "documents")
      Sampling.lengthBucketStats(
        docs.select(col("source"),
          size(filter(split(lower(trim(col("text"))), "\\s+"),
            t => t =!= "")).as("n_tokens")),
        "source", "n_tokens", maxBits = 20)
    },
      ("WITH L AS (SELECT source, len([t for t in regexp_split_to_array(lower(trim(text)), '\\s+') if t <> '']) AS n FROM documents), " +
        "f AS (SELECT * FROM L WHERE n >= 1), " +
        s"b AS (SELECT source, n, (CAST(1 AS BIGINT) << ${OracleSql.bitLenSum("(n - 1)", 20)}) AS bucket FROM f) " +
        "SELECT source, bucket, count(*) AS n_rows, CAST(sum(n) AS BIGINT) AS sum_len, " +
        "CAST(sum(bucket - n) AS BIGINT) AS sum_pad, " +
        "CAST((sum(bucket - n) * 1000000) // (sum(n) + sum(bucket - n)) AS BIGINT) AS waste_ppm " +
        "FROM b GROUP BY source, bucket")),
    Gate("dedup_edit_distance", (s, d) => {
      // edit-distance verify tier: exact Levenshtein ONLY on candidate
      // pairs from the n-gram inverted index — never all-pairs. The
      // verify cost is candidates × O(len²) and candidates are the
      // bounded set; both engines implement classic Levenshtein
      val docs = rd(s, d, "documents")
      val pairs = sharedPairs(s, d)
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("__ta"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("__tb"))
      pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("__ta"), col("__tb")).as("edit_dist"))
    },
      (s"WITH $ngramCtes SELECT p.id_a, p.id_b, " +
        "CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist FROM pairs p " +
        "JOIN documents a ON a.doc_id = p.id_a JOIN documents b ON b.doc_id = p.id_b")),
    Gate("w5_ntile_prank", (s, d) => {
      // rank-family windows: ntile quartiles + percent_rank/cume_dist.
      // percent_rank = (rank-1)/(n-1): a ratio of small exact ints —
      // the same double on every IEEE engine
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      rd(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
    },
      ("SELECT o_custkey, o_orderkey, o_totalprice, CAST(ntile(4) OVER w AS INT) AS quartile, " +
        "percent_rank() OVER w AS prank, cume_dist() OVER w AS cdist FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)")),
    Gate("w6_first_last_nth", (s, d) => {
      // the value-picking window family: first/last/nth event value
      // per user over the full per-user frame (total order by ts,
      // event_id makes every pick deterministic); rn=1 collapses the
      // per-row window output to one row per user
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val cents = round(col("value") * 100).cast("long")
      rd(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          first(cents).over(full).as("first_cents"),
          last(cents).over(full).as("last_cents"),
          nth_value(cents, 2).over(full).as("second_cents"),
          row_number().over(ord).as("__rn"))
        .where(col("__rn") === 1)
        .select("user_id", "first_cents", "last_cents", "second_cents")
    },
      ("WITH w AS (SELECT user_id, " +
        "first_value(CAST(round(value * 100) AS BIGINT)) OVER win AS first_cents, " +
        "last_value(CAST(round(value * 100) AS BIGINT)) OVER win AS last_cents, " +
        "nth_value(CAST(round(value * 100) AS BIGINT), 2) OVER win AS second_cents, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events " +
        "WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, first_cents, last_cents, second_cents FROM w WHERE rn = 1")),
    Gate("q_string_agg", (s, d) =>
      // ordered string aggregation: brands per size as one ascending
      // CSV — array_sort(collect_list) + concat_ws, the order-free
      // form of string_agg (collect order varies with partitioning;
      // the sort pins it in both engines)
      rd(s, d, "part")
        .select(col("p_size"), col("p_brand")).distinct()
        .groupBy("p_size")
        .agg(expr("concat_ws(',', array_sort(collect_list(p_brand)))")
          .as("brands"),
          count(lit(1)).as("n_brands")),
      ("WITH d AS (SELECT DISTINCT p_size, p_brand FROM part) " +
        "SELECT p_size, string_agg(p_brand, ',' ORDER BY p_brand) AS brands, " +
        "count(*) AS n_brands FROM d GROUP BY p_size")),
    Gate("incr_join_maintain", (s, d) => {
      // incremental JOIN maintenance: a stored orders⋈customer join
      // refreshed with insert-only deltas on BOTH sides (new orders by
      // date, new customers by key slice) via
      // J ∪ ΔA⋈(B∪ΔB) ∪ A⋈broadcast(ΔB) — old never re-joins old. The
      // oracle joins the full tables from scratch, so a green row
      // proves the three-increment refresh loses and duplicates
      // nothing
      val cents = round(col("o_totalprice") * 100).cast("long")
      val o = rd(s, d, "orders").select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_orderdate"), cents.as("cents"))
      val c = rd(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      val cut = to_date(lit("1997-01-01"))
      val aOld = o.filter(col("o_orderdate") < cut).drop("o_orderdate")
      val aDelta = o.filter(col("o_orderdate") >= cut).drop("o_orderdate")
      val bOld = c.filter(col("custkey") % 11 =!= 0)
      val bDelta = c.filter(col("custkey") % 11 === 0)
      Incremental.maintainJoin(aOld.join(bOld, "custkey"),
        aOld, aDelta, bOld, bDelta, Seq("custkey"))
    },
      // recompute-from-scratch formulation: proves the three-increment
      // join refresh equals a full re-join
      ("SELECT o_custkey AS custkey, o_orderkey, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, c_nationkey " +
        "FROM orders JOIN customer ON o_custkey = c_custkey")),
    Gate("incr_agg_maintain", (s, d) => {
      // incremental view maintenance: per-user counts/sums materialized
      // over history (ts < Jan 28), then the last days folded in as a
      // delta — the oracle recomputes over ALL events from scratch, so
      // a green row proves incremental == full recompute exactly
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val cents = round(col("value") * 100).cast("long")
      val prev = ev.filter(col("ts") < cutoff)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(cents).as("sum_units"))
      Incremental.updateCounts(prev, ev.filter(col("ts") >= cutoff),
        Seq("user_id"), cents)
    },
      // recompute-from-scratch formulation: proves the incremental fold
      // equals a full re-aggregation
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_units " +
        "FROM events GROUP BY user_id")),
    Gate("incr_agg_read_rewrite", (s, d) => {
      // the READ half of incremental view maintenance: the maintained
      // per-(user, type) aggregate is registered as a materialized
      // view, and the RAW aggregate query below is transparently
      // rewritten by the injected optimizer rule
      // (plans.MaterializedAggRewrite) to scan the maintained table
      // instead of the event history. ExtensionsSpec pins the plan
      // swap; the oracle recomputes from raw events, so a green row
      // ALSO proves the maintained content is exact
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      def aggQuery = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"), sum(cents).as("sum_units"))
      val (dir, tbl) = Artifacts.table(s, d, "mv_user_type_counts", ev, "event_id")(_ => aggQuery)
      graft.plans.MaterializedAggRewrite.register(s, aggQuery,
        () => Warehouse.read(s, dir, tbl))
      graft.plans.MaterializedAggRewrite.ensureInjected(s)
      aggQuery
    },
      ("SELECT user_id, event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_units " +
        "FROM events GROUP BY user_id, event_type")),
    Gate("seq_ewma", (s, d) =>
      // exact dyadic EWMA: trailing 20-event exponential smoothing per
      // user with power-of-two weights in long arithmetic — the
      // time-series smoother, bit-reproducible
      Events.ewmaTrailing(rd(s, d, "events"), "user_id", Seq("ts", "event_id"),
        round(col("value") * 100).cast("long"), window = 20),
      OracleSql.ewmaTrailing(20)),
    Gate("stream_counts_replay", (s, d) => {
      // the micro-batch fold behind incrementalCountsStream, replayed
      // deterministically under the DuckDB oracle: four week-batches
      // fold in order, batch 2 is REPLAYED with the same id (the crash
      // -recovery path), and the final materialized table must equal
      // ONE batch aggregate over all events — proving both the
      // O(delta) fold and the atomic batch-id idempotence stamp. The
      // table name carries the source content epoch, so regenerated
      // testdata gets a fresh table; re-running the query folds onto
      // the finished table and every batch id is skipped (idempotent).
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val batches = Seq(
        ev.filter(col("ts") < cuts(0)),
        ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        ev.filter(col("ts") >= cuts(2)))
      val keys = Seq("user_id", "event_type")
      val (dir, tbl) = Artifacts.fold(s, d, s"stream_counts_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        Streams.foldCountsBatch(batches(0), 0L, dir, tbl, keys, cents)
        Streams.foldCountsBatch(batches(1), 1L, dir, tbl, keys, cents)
        Streams.foldCountsBatch(batches(2), 2L, dir, tbl, keys, cents)
        // crash replay: the same batch arrives again — must be skipped
        Streams.foldCountsBatch(batches(2), 2L, dir, tbl, keys, cents)
        Streams.foldCountsBatch(batches(3), 3L, dir, tbl, keys, cents)
      }
      Warehouse.read(s, dir, tbl).drop("last_batch_id")
    },
      ("SELECT user_id, event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_units " +
        "FROM events GROUP BY 1, 2")),
    Gate("stream_hll_replay", (s, d) => {
      // sketch state under the crash-replay harness: four week-batches
      // max-merge into the register table, batch 2 replays under the
      // same id, and the final table must equal a sketch built over
      // ALL events in one pass (the oracle) — register-max
      // associativity makes the fold order-free, and idempotent even
      // without the batch stamp
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val batches = Seq(
        ev.filter(col("ts") < cuts(0)),
        ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        ev.filter(col("ts") >= cuts(2)))
      val (dir, tbl) = Artifacts.fold(s, d, s"stream_hll_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        Streams.foldHllBatch(batches(0), 0L, dir, tbl, "event_type", "user_id", 64)
        Streams.foldHllBatch(batches(1), 1L, dir, tbl, "event_type", "user_id", 64)
        Streams.foldHllBatch(batches(2), 2L, dir, tbl, "event_type", "user_id", 64)
        // crash replay: the same batch arrives again — must be a no-op
        Streams.foldHllBatch(batches(2), 2L, dir, tbl, "event_type", "user_id", 64)
        Streams.foldHllBatch(batches(3), 3L, dir, tbl, "event_type", "user_id", 64)
      }
      Warehouse.read(s, dir, tbl).drop("last_batch_id")
    },
      OracleSql.hllRegisters(64)),
    Gate("stream_late_drop_replay", (s, d) => {
      // the WATERMARK contract gated under the oracle: batch 0 covers
      // the first two weeks minus a straggler cohort, so its max event
      // time sets the watermark near Jan 12 (3-day delay on a corpus
      // with events every day through Jan 14) — when the stragglers
      // (ts < Jan 8) finally arrive in batch 1 they sit BELOW the
      // watermark and must drop; batch 2 is crash-replayed under the
      // same id (watermark and fold both skip). The oracle aggregates
      // every event EXCEPT the straggler cohort — green proves the
      // drop rule, the watermark advance, and replay idempotence
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      val (c8, c15, c22) = (tlit("2024-01-08 00:00:00"),
        tlit("2024-01-15 00:00:00"), tlit("2024-01-22 00:00:00"))
      val straggler = col("user_id") % 13 === 0 && col("ts") < c8
      val batches = Seq(
        ev.filter(col("ts") < c15 && !straggler),
        ev.filter((col("ts") >= c15 && col("ts") < c22) || straggler),
        ev.filter(col("ts") >= c22))
      val keys = Seq("user_id", "event_type")
      val threeDaysUs = 3L * 24 * 3600 * 1000000
      val (dir, tbl) = Artifacts.fold(s, d, s"stream_late_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        batches.zipWithIndex.foreach { case (b, i) =>
          Streams.foldCountsWatermarkBatch(
            b, i.toLong, dir, tbl, keys, cents, "ts", threeDaysUs)
          if (i == 2) // crash replay: same id again — must be skipped
            Streams.foldCountsWatermarkBatch(
              b, i.toLong, dir, tbl, keys, cents, "ts", threeDaysUs)
        }
      }
      Warehouse.read(s, dir, tbl).drop("last_batch_id", "wm_us")
    },
      ("SELECT user_id, event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_units " +
        "FROM events WHERE NOT (user_id % 13 = 0 AND ts < TIMESTAMP '2024-01-08 00:00:00') " +
        "GROUP BY 1, 2")),
    Gate("stream_retract_replay", (s, d) => {
      // the signed (CDC) micro-batch fold, gated the same way as
      // stream_counts_replay: two insert batches, then a batch mixing
      // a revoked cohort's retractions with the newest inserts —
      // delivered TWICE under the same id (the crash-replay path must
      // not double-retract). The oracle recomputes from the surviving
      // rows; fully-retracted users must be absent.
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      val c15 = to_timestamp(lit("2024-01-15 00:00:00"))
      val c22 = to_timestamp(lit("2024-01-22 00:00:00"))
      val b0 = ev.filter(col("ts") < c15).withColumn("__op", lit(1))
      val b1 = ev.filter(col("ts") >= c15 && col("ts") < c22).withColumn("__op", lit(1))
      val b2 = ev.filter(col("ts") < c15 && col("user_id") % 101 === 0)
        .withColumn("__op", lit(-1))
        .unionByName(ev.filter(col("ts") >= c22).withColumn("__op", lit(1)))
      val keys = Seq("user_id")
      val (dir, tbl) = Artifacts.fold(s, d, s"stream_retract_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        Streams.foldRetractionsBatch(b0, 0L, dir, tbl, keys, cents, col("__op"))
        Streams.foldRetractionsBatch(b1, 1L, dir, tbl, keys, cents, col("__op"))
        Streams.foldRetractionsBatch(b2, 2L, dir, tbl, keys, cents, col("__op"))
        // crash replay of the retraction batch — must be skipped
        Streams.foldRetractionsBatch(b2, 2L, dir, tbl, keys, cents, col("__op"))
      }
      Warehouse.read(s, dir, tbl).drop("last_batch_id")
    },
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_units " +
        "FROM events WHERE NOT (user_id % 101 = 0 AND ts < TIMESTAMP '2024-01-15 00:00:00') " +
        "GROUP BY 1")),
    Gate("stream_sessions_replay", (s, d) => {
      // the sessionization state machine behind closedSessions,
      // replayed as four time-ordered micro-batch folds over a
      // warehouse-persisted (open, closed) table pair — batch 2
      // delivered TWICE under the same id (crash replay). The final
      // closed ∪ flushed-open set must equal ONE from-scratch
      // gaps-and-islands sessionization in DuckDB, proving both the
      // O(delta) session merge and the two-table idempotence stamps.
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      val epoch = contentEpoch(ev, "event_id")
      val (openT, closedT) = (s"stream_sess_open_$epoch", s"stream_sess_closed_$epoch")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val batches = Seq(
        ev.filter(col("ts") < cuts(0)),
        ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        ev.filter(col("ts") >= cuts(2)))
      val gapMs = 45L * 60 * 1000
      val (dir, _) = Artifacts.fold(s, d, closedT) { (dir, _) =>
        batches.zipWithIndex.foreach { case (b, i) =>
          Streams.foldSessionsBatch(b, i.toLong, dir, openT, closedT, gapMs, cents)
          if (i == 2) // crash replay: same batch id again — must be skipped
            Streams.foldSessionsBatch(b, i.toLong, dir, openT, closedT, gapMs, cents)
        }
      }
      Warehouse.read(s, dir, closedT).drop("batch_id")
        .unionByName(Warehouse.read(s, dir, openT).drop("last_batch_id"))
    },
      ("WITH o AS (SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS units, " +
        "CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) > 2700000000 THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT user_id, ts, units, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM o) " +
        "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, CAST(sum(units) AS BIGINT) AS total_units " +
        "FROM s GROUP BY user_id, sid")),
    Gate("stream_join_replay", (s, d) => {
      // the bounded-state stream-stream join behind viewPurchaseJoin,
      // replayed as four time-ordered micro-batch folds: the view
      // buffer evicts at the event-time horizon each fold, batch 2 is
      // crash-replayed, and the accumulated matches must equal the
      // from-scratch interval join — state bound AND completeness in
      // one gate.
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val epoch = contentEpoch(ev, "event_id")
      val (bufT, outT) = (s"stream_join_buf_$epoch", s"stream_join_out_$epoch")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val batches = Seq(
        ev.filter(col("ts") < cuts(0)),
        ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        ev.filter(col("ts") >= cuts(2)))
      val windowMs = 3600L * 1000
      val (dir, _) = Artifacts.fold(s, d, outT) { (dir, _) =>
        batches.zipWithIndex.foreach { case (b, i) =>
          Streams.foldStreamJoinBatch(b, i.toLong, dir, bufT, outT, windowMs)
          if (i == 2) // crash replay: same batch id again — must be skipped
            Streams.foldStreamJoinBatch(b, i.toLong, dir, bufT, outT, windowMs)
        }
      }
      Warehouse.read(s, dir, outT).drop("batch_id")
    },
      ("SELECT v.user_id AS user_id, v.event_id AS view_id, p.event_id AS purchase_id, " +
        "v.ts AS v_ts, p.ts AS p_ts, CAST(round(p.value * 100) AS BIGINT) AS purchase_cents " +
        "FROM events v JOIN events p ON v.user_id = p.user_id " +
        "AND p.ts >= v.ts AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000 " +
        "WHERE v.event_type = 'view' AND p.event_type = 'purchase'")),
    Gate("stream_attrib_replay", (s, d) => {
      // the last-touch attribution state machine behind lastTouchStream,
      // replayed as four time-ordered micro-batch folds over a one-row-
      // per-user touch-state table — batch 2 crash-replayed. The
      // accumulated per-conversion attributions must equal the
      // from-scratch batch attribution (the events_attribution window),
      // proving the single-touch state summarizes all prior batches.
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val epoch = contentEpoch(ev, "event_id")
      val (stT, outT) = (s"stream_attrib_state_$epoch", s"stream_attrib_out_$epoch")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val batches = Seq(
        ev.filter(col("ts") < cuts(0)),
        ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        ev.filter(col("ts") >= cuts(2)))
      val (dir, _) = Artifacts.fold(s, d, outT) { (dir, _) =>
        batches.zipWithIndex.foreach { case (b, i) =>
          Streams.foldLastTouchBatch(b, i.toLong, dir, stT, outT,
            Set("view", "click"), "purchase")
          if (i == 2) // crash replay: same batch id again — must be skipped
            Streams.foldLastTouchBatch(b, i.toLong, dir, stT, outT,
              Set("view", "click"), "purchase")
        }
      }
      Warehouse.read(s, dir, outT).drop("batch_id")
    },
      ("WITH u AS (SELECT user_id, ts, event_id, event_type, value, " +
        "CASE WHEN event_type IN ('view', 'click') THEN event_type END AS touch " +
        "FROM events WHERE event_type IN ('view', 'click', 'purchase')), " +
        "w AS (SELECT user_id, event_id, ts, event_type, value, " +
        "last_value(touch IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel FROM u) " +
        "SELECT user_id, event_id, ts, coalesce(channel, 'direct') AS channel, " +
        "CAST(round(value * 100) AS BIGINT) AS cents " +
        "FROM w WHERE event_type = 'purchase'")),
    Gate("stream_gridq_replay", (s, d) => {
      // quantile-sketch state under the crash-replay harness: four
      // week-batches of GridQuantileAgg sketches fold into the
      // (type, cell, count) table by count addition, batch 2 replays
      // under the same id (addition is NOT idempotent by algebra — the
      // stamp is what guards it, unlike the HLL fold), and the final
      // table must equal the oracle's one-pass histogram rebuild
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val ev = rd(s, d, "events")
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(c => to_timestamp(lit(s"$c 00:00:00")))
      val batches = Seq(
        ev.filter(col("ts") < cuts(0)),
        ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        ev.filter(col("ts") >= cuts(2)))
        .map(_.select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents")))
      val (dir, tbl) = Artifacts.fold(s, d, s"stream_gridq_${contentEpoch(ev, "event_id")}") { (dir, tbl) =>
        batches.zipWithIndex.foreach { case (b, i) =>
          Streams.foldGridBatch(b, i.toLong, dir, tbl, "event_type", "cents",
            gridLo, gridWidth, gridBins)
          if (i == 2) // crash replay: same id — must be skipped
            Streams.foldGridBatch(b, i.toLong, dir, tbl, "event_type", "cents",
              gridLo, gridWidth, gridBins)
        }
      }
      Warehouse.read(s, dir, tbl).drop("last_batch_id")
    },
      // the four-batch replayed fold must land on the same rebuild
      (s"WITH $gridBucketCte SELECT event_type, b, CAST(c AS BIGINT) AS cnt FROM h")),
    Gate("stream_ingest_replay", (s, d) => {
      // streaming corpus ingest with near-dup admission control, gated:
      // four doc_id-modulo batches fold through foldIngestBatch (each
      // dedups against the corpus SO FAR through its persisted MinHash
      // index — O(batch) signature work), batch 2 crash-replays under
      // the same id and must be skipped by the batch stamp, and the
      // admitted corpus must equal the oracle's greedy sequential
      // admission unrolled over ONE full-corpus LSH run
      import graft.streaming.Streams
      import graft.sources.Warehouse
      val docs = rd(s, d, "documents")
      val epoch = contentEpoch(docs, "doc_id")
      val (ctbl, itbl) =
        (s"stream_ingest_corpus_$epoch", s"stream_ingest_index_$epoch")
      val batches = (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))
      val (dir, _) = Artifacts.fold(s, d, ctbl) { (dir, _) =>
        batches.zipWithIndex.foreach { case (b, i) =>
          Streams.foldIngestBatch(b, i.toLong, dir, ctbl, itbl,
            16, 8, 1, 50, portable = true)
          if (i == 2) // crash replay: same batch id again — must no-op
            Streams.foldIngestBatch(b, i.toLong, dir, ctbl, itbl,
              16, 8, 1, 50, portable = true)
        }
      }
      Warehouse.read(s, dir, ctbl).select("doc_id")
    },
      OracleSql.streamIngestAdmission(16, 8, 1, 50, nBatches = 4)),
    Gate("dq_fd_violations", (s, d) =>
      // conformance audit: the claimed FD source → lang, with the
      // majority lang as repair candidate and the violating row count
      graft.operators.Quality.fdViolations(rd(s, d, "documents"), "source", "lang"),
      ("WITH c AS (SELECT source, lang, count(*) AS n FROM documents " +
        "WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT source, lang, n, count(*) OVER (PARTITION BY source) AS n_vals, " +
        "CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total_rows, " +
        "row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rk FROM c) " +
        "SELECT source, n_vals, total_rows, lang AS majority_val, n AS majority_n, " +
        "total_rows - n AS n_violating FROM w WHERE n_vals > 1 AND rk = 1")),
    Gate("stat_bootstrap_ci", (s, d) =>
      // Poisson-bootstrap 95% CI for mean event value per type: per-row
      // md5-drawn replication counts (no materialized resamples),
      // exact integer sums, order-statistic percentile pick — over a
      // documented 10% hash-sample population (bootstrap cost IS ×B;
      // never run it on the raw corpus)
      Stats.bootstrapMeanCI(
        rd(s, d, "events").where(col("event_id") % 10 === 0),
        "event_type", round(col("value") * 100).cast("long"), "event_id",
        reps = 200, salt = "boot"),
      Stats.bootstrapMeanCISql("WHERE event_id % 10 = 0", reps = 200, salt = "boot")),
    Gate("seq_cusum_shift", (s, d) =>
      // change-point detection: integer-exact CUSUM over daily order
      // revenue, top-10 |S_t| days = the strongest mean-shift
      // candidates; ties broken by date so the LIMIT is deterministic
      Stats.cusumShift(rd(s, d, "orders"), "o_orderdate",
          round(col("o_totalprice") * 100).cast("long"))
        .orderBy(abs(col("cusum")).desc, col("d")).limit(10),
      ("WITH daily AS (SELECT o_orderdate AS d, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x FROM orders GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS tot FROM daily), " +
        "run AS (SELECT d, row_number() OVER (ORDER BY d) AS t, " +
        "CAST(sum(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS pfx FROM daily) " +
        "SELECT d, CAST(n * pfx - t * tot AS BIGINT) AS cusum FROM run, tot " +
        "ORDER BY abs(n * pfx - t * tot) DESC, d LIMIT 10")),
    Gate("q_max_concurrent", (s, d) =>
      // peak-load sweep line: 45-min sessions become ±1 boundary
      // points, the range-partitioned prefix sum (NO unpartitioned
      // window) counts live sessions, top-20 boundary instants by
      // concurrency; (ts, cur, delta) is a total key, so the LIMIT
      // cut is deterministic
      Events.concurrencySweep(rd(s, d, "events"), gapMinutes = 45)
        .orderBy(col("cur").desc, col("ts"), col("delta")).limit(20),
      ("WITH o AS (SELECT user_id, ts, event_id, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) > 2700000000 THEN 1 ELSE 0 END AS brk FROM events), " +
        "s0 AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM o), " +
        "sess AS (SELECT user_id, sid, min(ts) AS s, max(ts) AS e FROM s0 GROUP BY 1, 2), " +
        "pts AS (SELECT s AS ts, CAST(1 AS BIGINT) AS delta FROM sess " +
        "UNION ALL SELECT e, CAST(-1 AS BIGINT) FROM sess), " +
        "run AS (SELECT ts, delta, CAST(sum(delta) OVER (ORDER BY ts, delta DESC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cur FROM pts) " +
        "SELECT ts, delta, cur FROM run ORDER BY cur DESC, ts, delta LIMIT 20")),
    Gate("incr_minmax_retract", (s, d) => {
      // min/max under retraction — the case count/sum folding cannot
      // handle: one cohort retracts exactly its stored MAXIMUM rows
      // (forcing the affected-keys rescan), another disappears
      // entirely, the new window folds algebraically. The oracle
      // recomputes extrema from scratch over the surviving multiset.
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val cents = round(col("value") * 100).cast("long")
      val hist = ev.filter(col("ts") < cutoff)
      val prev = hist.groupBy("user_id")
        .agg(min(cents).as("min_v"), max(cents).as("max_v"))
      val inserts = ev.filter(col("ts") >= cutoff).withColumn("__op", lit(1))
      val mx = hist.filter(col("user_id") % 89 === 0 && col("user_id") % 97 =!= 0)
        .groupBy("user_id").agg(max(cents).as("__mx"))
      val retractMax = hist.join(mx, "user_id")
        .where(cents === col("__mx")).drop("__mx").withColumn("__op", lit(-1))
      val retractAll = hist.filter(col("user_id") % 97 === 0).withColumn("__op", lit(-1))
      Incremental.updateMinMax(prev, hist,
        inserts.unionByName(retractMax).unionByName(retractAll),
        Seq("user_id"), cents, col("__op"))
    },
      ("WITH cv AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v, ts FROM events), " +
        "hist AS (SELECT user_id, v FROM cv WHERE ts < TIMESTAMP '2024-01-28 00:00:00'), " +
        "mx AS (SELECT user_id, max(v) AS mxv FROM hist WHERE user_id % 89 = 0 AND user_id % 97 <> 0 GROUP BY 1), " +
        "surv AS (SELECT h.user_id, h.v FROM hist h LEFT JOIN mx ON h.user_id = mx.user_id " +
        "WHERE h.user_id % 97 <> 0 AND (mx.user_id IS NULL OR h.v <> mx.mxv) " +
        "UNION ALL SELECT user_id, v FROM cv WHERE ts >= TIMESTAMP '2024-01-28 00:00:00') " +
        "SELECT user_id, min(v) AS min_v, max(v) AS max_v FROM surv GROUP BY 1")),
    Gate("incr_agg_retract", (s, d) => {
      // CDC / right-to-be-forgotten repair: the materialized per-user
      // aggregate is patched with signed delta rows — inserts for the
      // new window, retractions for a revoked cohort's history — in
      // O(delta), never by rescanning history. The oracle recomputes
      // from scratch over (history ∖ revoked) ∪ new-window, so a green
      // row proves the fold reverses exactly the revoked rows and
      // drops fully-retracted keys.
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val cents = round(col("value") * 100).cast("long")
      val hist = ev.filter(col("ts") < cutoff)
      val prev = hist.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(cents).as("sum_units"))
      val inserts = ev.filter(col("ts") >= cutoff).withColumn("__op", lit(1))
      val retracts = hist.filter(col("user_id") % 97 === 0)
        .withColumn("__op", lit(-1))
      Incremental.updateWithRetractions(prev, inserts.unionByName(retracts),
        Seq("user_id"), cents, col("__op"))
    },
      ("SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_units " +
        "FROM events WHERE NOT (user_id % 97 = 0 AND ts < TIMESTAMP '2024-01-28 00:00:00') " +
        "GROUP BY user_id")),
    Gate("feat_standardize", (s, d) =>
      // per-type z-score + min-max ppm feature scaling from one
      // broadcast moment table — ML preprocessing, bit-reproducible
      Stats.standardize(rd(s, d, "events"), Seq("event_type"),
        Seq("event_id"), round(col("value") * 100).cast("long")),
      Stats.standardizeSql("events", Seq("event_type"),
        Seq("event_id"), "CAST(round(value * 100) AS BIGINT)")),
    Gate("split_leakage_audit", (s, d) => {
      // does the split leak near-duplicates across the train/eval
      // boundary? naive per-doc hashing vs the cluster-safe split over
      // the SAME pair set; the safe count doubles as a proof-of-zero
      val docs = rd(s, d, "documents")
      Sampling.splitLeakageAudit(docs,
        sharedPairs(s, d).select("id_a", "id_b"),
        "doc_id", "exp1", splitFractions)
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "spl AS (SELECT d.doc_id, " +
        s"${OracleSql.hashSplitCase("CAST(d.doc_id AS VARCHAR)", "exp1", splitFractions)} AS split_naive, " +
        s"${OracleSql.hashSplitCase("CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)", "exp1", splitFractions)} AS split_safe " +
        "FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id), " +
        "agg AS (SELECT CAST(coalesce(sum(CASE WHEN a.split_naive <> b.split_naive THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_x, " +
        "CAST(coalesce(sum(CASE WHEN a.split_safe <> b.split_safe THEN 1 ELSE 0 END), 0) AS BIGINT) AS safe_x, " +
        "count(*) AS n_pairs FROM pairs p " +
        "JOIN spl a ON a.doc_id = p.id_a JOIN spl b ON b.doc_id = p.id_b) " +
        "SELECT 'hash_by_doc' AS method, naive_x AS n_cross_pairs, n_pairs FROM agg " +
        "UNION ALL SELECT 'cluster_safe', safe_x, n_pairs FROM agg")),
    Gate("stat_group_ols", (s, d) =>
      // per-flag least squares of revenue-cents on quantity from exact
      // long moment sums — one combinable scan, closed-form fit
      Stats.groupOls(rd(s, d, "lineitem"), Seq("l_returnflag"),
        col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long")),
      Stats.groupOlsSql("lineitem", Seq("l_returnflag"),
        "CAST(l_quantity AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)")),
    Gate("stat_spearman", (s, d) =>
      // monotone association per return flag: Spearman's rho with
      // average-rank ties — ranks come from distinct-value prefix
      // tables (value-domain-sized windows, never a corpus sort),
      // moments on the exact decimal grid
      Stats.spearman(rd(s, d, "lineitem"), Seq("l_returnflag"),
        col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long")),
      Stats.spearmanSql("lineitem", Seq("l_returnflag"),
        "CAST(l_quantity AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)")),
    Gate("stat_mann_whitney", (s, d) =>
      // nonparametric two-sample test: does fulfilled-order spend
      // stochastically dominate open-order spend? Tie-corrected
      // rank-sum U and z from exact decimal moments
      Stats.mannWhitneyU(
        rd(s, d, "orders").filter(col("o_orderstatus").isin("F", "O")),
        round(col("o_totalprice") * 100).cast("long"),
        col("o_orderstatus") === "F"),
      Stats.mannWhitneyUSql("orders",
        "CAST(round(o_totalprice * 100) AS BIGINT)",
        "o_orderstatus = 'F'",
        "WHERE o_orderstatus IN ('F', 'O')")),
    Gate("stat_acf", (s, d) =>
      // seasonality detector: autocorrelation of daily revenue at lags
      // 1..14 (the weekly spike shows at lag 7); pair alignment is an
      // equi-join on shifted dates over the calendar-bounded daily
      // table, Pearson per lag from exact decimal moments
      Stats.acf(rd(s, d, "orders"), "o_orderdate",
        round(col("o_totalprice") * 100).cast("long"), maxLag = 14),
      Stats.acfSql("orders",
        "CAST(round(o_totalprice * 100) AS BIGINT)", maxLag = 14)),
    Gate("seq_rolling_corr", (s, d) => {
      // metric-coupling monitor: 28-day rolling Pearson between daily
      // purchase and click value — decoupling is the incident signal;
      // one shared window over the calendar-bounded joined daily table
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      Stats.rollingCorrDaily(
        ev.filter(col("event_type") === "purchase"), "ts", cents,
        ev.filter(col("event_type") === "click"), "ts", cents,
        windowDays = 28)
    },
      Stats.rollingCorrDailySql("purchase", "click", 28)),
    Gate("seq_xcorr", (s, d) => {
      // lead/lag detector: cross-correlation of daily view value vs
      // purchase value at lags -7..7 — a peak at positive lag reads
      // "views lead purchases by that many days"
      val ev = rd(s, d, "events")
      val cents = round(col("value") * 100).cast("long")
      Stats.xcorrDaily(
        ev.filter(col("event_type") === "view"), "ts", cents,
        ev.filter(col("event_type") === "purchase"), "ts", cents,
        maxLag = 7)
    },
      Stats.xcorrDailySql("view", "purchase", 7)),
    Gate("stat_welch_t", (s, d) =>
      // parametric sibling of the rank-sum test on the same split:
      // Welch's t and Satterthwaite df from one conditional-sum scan
      Stats.welchT(
        rd(s, d, "orders").filter(col("o_orderstatus").isin("F", "O")),
        round(col("o_totalprice") * 100).cast("long"),
        col("o_orderstatus") === "F"),
      Stats.welchTSql("orders",
        "CAST(round(o_totalprice * 100) AS BIGINT)",
        "o_orderstatus = 'F'",
        "WHERE o_orderstatus IN ('F', 'O')")),
    Gate("dq_orphans", (s, d) =>
      // referential-integrity gate: FK orphan counts + ppm for the
      // star schema's load contract, plus the events->customer
      // relationship that genuinely dangles in this corpus
      graft.operators.Quality.referentialAudit(Seq(
        ("lineitem.l_orderkey->orders", rd(s, d, "lineitem"), "l_orderkey",
          rd(s, d, "orders"), "o_orderkey"),
        ("orders.o_custkey->customer", rd(s, d, "orders"), "o_custkey",
          rd(s, d, "customer"), "c_custkey"),
        ("events.user_id->customer", rd(s, d, "events"), "user_id",
          rd(s, d, "customer"), "c_custkey"))),
      ("WITH li AS (SELECT count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans " +
        "FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o " +
        "ON l_orderkey = o_orderkey), " +
        "oc AS (SELECT count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans " +
        "FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c " +
        "ON o_custkey = c_custkey), " +
        "ec AS (SELECT count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans " +
        "FROM events LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c " +
        "ON user_id = c_custkey) " +
        "SELECT 'lineitem.l_orderkey->orders' AS fk, n_rows, n_orphans, " +
        "1000000 * n_orphans // n_rows AS orphan_ppm FROM li " +
        "UNION ALL SELECT 'orders.o_custkey->customer', n_rows, n_orphans, " +
        "1000000 * n_orphans // n_rows FROM oc " +
        "UNION ALL SELECT 'events.user_id->customer', n_rows, n_orphans, " +
        "1000000 * n_orphans // n_rows FROM ec")),
    Gate("graph_link_predict", (s, d) =>
      // "bought together elsewhere" candidates: top-100 NON-adjacent
      // part pairs by common-neighbor evidence through degree-<=32
      // centers (the cap is the operator's documented contract — hub
      // evidence carries no signal and costs deg^2); projection edges
      // from the shared stage, rows identical to the inline derivation
      graft.operators.Graph.commonNeighborCandidates(
        sharedTriEdges(s, d), maxCenterDegree = 32, topK = 100),
      ("WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "r AS (SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rn FROM lp), " +
        "t3 AS (SELECT o, p, rn FROM r WHERE rn <= 3), " +
        "ed AS (SELECT DISTINCT x.p AS a, y.p AS b FROM t3 x JOIN t3 y " +
        "ON x.o = y.o AND x.rn < y.rn), " +
        "bid AS (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b, a FROM ed), " +
        "low AS (SELECT u AS node FROM bid GROUP BY u HAVING count(*) <= 32), " +
        "lb AS (SELECT u, v FROM bid JOIN low ON low.node = bid.u), " +
        "w AS (SELECT x.v AS v1, y.v AS v2 FROM lb x JOIN lb y ON x.u = y.u AND x.v < y.v), " +
        "cn AS (SELECT v1, v2, count(*) AS n_common FROM w GROUP BY 1, 2) " +
        "SELECT cn.v1, cn.v2, CAST(cn.n_common AS BIGINT) AS n_common FROM cn " +
        "LEFT JOIN ed ON ed.a = cn.v1 AND ed.b = cn.v2 WHERE ed.a IS NULL " +
        "ORDER BY cn.n_common DESC, cn.v1, cn.v2 LIMIT 100")),
    Gate("stat_corr_matrix", (s, d) =>
      // pairwise Pearson over four integer-unit measures in ONE scan
      // (all k(k+3)/2 moments in a single agg, never k² passes)
      Stats.corrMatrix(rd(s, d, "lineitem"), Seq(
        "qty" -> col("l_quantity").cast("long"),
        "price_usd" -> round(col("l_extendedprice")).cast("long"),
        "disc_bp" -> round(col("l_discount") * 10000).cast("long"),
        "tax_bp" -> round(col("l_tax") * 10000).cast("long"))),
      Stats.corrMatrixSql("lineitem", Seq(
        "qty" -> "CAST(l_quantity AS BIGINT)",
        "price_usd" -> "CAST(round(l_extendedprice) AS BIGINT)",
        "disc_bp" -> "CAST(round(l_discount * 10000) AS BIGINT)",
        "tax_bp" -> "CAST(round(l_tax * 10000) AS BIGINT)"))),
    Gate("layout_zvalue", (s, d) =>
      // the Morton key itself, gated: fixed literal bounds shared with
      // the oracle so quantization cells agree bit-for-bit
      rd(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        graft.sources.Layout.zValue(
          col("l_quantity"), 1.0, 50.0,
          col("l_extendedprice"), 900.0, 105000.0).as("zval")),
      (s"SELECT l_orderkey, l_linenumber, ${OracleSql.zValueSql(
        "l_quantity", 1.0, 50.0, "l_extendedprice", 900.0, 105000.0)} AS zval " +
        "FROM lineitem")),
    Gate("layout_zone_prune", (s, d) => {
      // zone-map skipping, simulated end-to-end in-plan: bucket rows
      // into 16 "files" along the z-curve (zval >> 28), build per-file
      // min/max, and count how many files a 2-D rectangle predicate
      // must open vs the exact matching rows — the I/O story of
      // writeZOrdered + fileManifest + readPruned as ONE verifiable
      // number (ScaleSpec proves it on real parquet files)
      val z = rd(s, d, "lineitem").select(
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        graft.sources.Layout.zValue(
          col("l_quantity"), 1.0, 50.0,
          col("l_extendedprice"), 900.0, 105000.0).as("zval"))
      val files = z.groupBy(shiftright(col("zval"), 28).as("file_id"))
        .agg(min(col("qty")).as("qmin"), max(col("qty")).as("qmax"),
          min(col("price")).as("pmin"), max(col("price")).as("pmax"),
          count(lit(1)).as("n_rows"))
      val hit = col("qmax") >= 10.0 && col("qmin") <= 20.0 &&
        col("pmax") >= 10000.0 && col("pmin") <= 20000.0
      val stats = files.agg(
        count(lit(1)).as("n_files_total"),
        count(when(hit, lit(1))).as("n_files_kept"),
        coalesce(sum(when(hit, col("n_rows"))), lit(0L)).as("n_rows_scanned"))
      val exact = z.filter(col("qty") >= 10.0 && col("qty") <= 20.0 &&
          col("price") >= 10000.0 && col("price") <= 20000.0)
        .agg(count(lit(1)).as("n_rows_match"))
      stats.crossJoin(exact)
    },
      (s"WITH z AS (SELECT l_quantity AS qty, l_extendedprice AS price, ${OracleSql.zValueSql(
        "l_quantity", 1.0, 50.0, "l_extendedprice", 900.0, 105000.0)} AS zval FROM lineitem), " +
        "f AS (SELECT zval >> 28 AS file_id, min(qty) AS qmin, max(qty) AS qmax, " +
        "min(price) AS pmin, max(price) AS pmax, count(*) AS n_rows FROM z GROUP BY 1), " +
        "s AS (SELECT count(*) AS n_files_total, " +
        "count(CASE WHEN qmax >= 10.0 AND qmin <= 20.0 AND pmax >= 10000.0 AND pmin <= 20000.0 THEN 1 END) AS n_files_kept, " +
        "CAST(coalesce(sum(CASE WHEN qmax >= 10.0 AND qmin <= 20.0 AND pmax >= 10000.0 AND pmin <= 20000.0 THEN n_rows END), 0) AS BIGINT) AS n_rows_scanned FROM f), " +
        "m AS (SELECT count(*) AS n_rows_match FROM z " +
        "WHERE qty >= 10.0 AND qty <= 20.0 AND price >= 10000.0 AND price <= 20000.0) " +
        "SELECT s.n_files_total, s.n_files_kept, s.n_rows_scanned, m.n_rows_match FROM s, m")),
    Gate("layout_bloom_prune", (s, d) => {
      // point-lookup file skipping where min/max is blind: a 16-file
      // layout hashed on o_custkey (every file spans the full orderkey
      // domain — zone maps prune nothing), per-file Bloom words built
      // in one scan, four point probes (three present, one absent)
      // open only bloom-qualified files and must equal the plain
      // filter row-for-row; ScaleSpec pins the files-opened count on
      // real parquet
      import graft.sources.Layout
      val o = rd(s, d, "orders")
      val path = bloomOrders(s, d, o, contentEpoch(o, "o_orderkey"))
      val mf = graft.operators.Caches.persisted(
        Layout.bloomManifest(s, path, "o_orderkey"))
      Seq(7L, 632L, 1203L, 999999999L)
        .map(k => Layout.readBloomPruned(s, path, mf, "o_orderkey", lit(k))
          .select("o_orderkey", "o_custkey", "o_totalprice"))
        .reduce(_ unionByName _)
    },
      // the bloom prune is an I/O mechanism — the RESULT is the plain
      // point-lookup filter (no false negatives by construction)
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey IN (7, 632, 1203, 999999999)")),
    Gate("incr_bloom_maintain", (s, d) => {
      // O(new files) index maintenance: appending files to a corpus
      // extends the per-file Bloom manifest by scanning ONLY the new
      // files (rows are per-file-independent — the old manifest is
      // reused verbatim), and point lookups through the unioned
      // manifest stay exact across both file sets
      import graft.sources.Layout
      val o = rd(s, d, "orders")
      val epoch = contentEpoch(o, "o_orderkey")
      val basePath = bloomOrders(s, d, o, epoch)
      val newPath = Artifacts.path(s, d, s"bloom_orders_delta_$epoch")(tmp =>
        o.withColumn("o_orderkey", -col("o_orderkey"))
          .repartition(2, col("o_custkey")).write.mode("overwrite").parquet(tmp))
      val mf = graft.operators.Caches.persisted(
        Layout.bloomManifest(s, basePath, "o_orderkey")
          .unionByName(Layout.bloomManifest(s, newPath, "o_orderkey")))
      Seq(7L, -7L, 632L, -632L, 999999999L)
        .map(k => Layout.readBloomPruned(s, basePath, mf, "o_orderkey", lit(k))
          .select("o_orderkey", "o_custkey", "o_totalprice"))
        .reduce(_ unionByName _)
    },
      // the incremental bloom index is an I/O mechanism — the RESULT is
      // the plain point-lookup filter over both file sets
      ("WITH c AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "UNION ALL SELECT -o_orderkey, o_custkey, o_totalprice FROM orders) " +
        "SELECT * FROM c WHERE o_orderkey IN (7, -7, 632, -632, 999999999)")),
    Gate("layout_zorder_pruning", (s, d) => {
      // the multi-dimensional clustering decision, MEASURED: the same
      // rows laid out as 64 units linearly (top x bits — "sorted by
      // the lead column") vs z-ordered (top Morton bits), then per
      // probe rectangle the units a min/max-skipping scan must open.
      // A square probe touches ~sqrt-selectivity of the z units but
      // every intersecting x-slice of the linear layout; a thin
      // y-band touches ALL linear units (they span the y domain) but
      // one z row. x/y are odd-multiplier scrambles of orderkey/
      // partkey so the point set covers the full 16-bit domain at
      // every scale factor — the layout geometry is what's under test
      val li = rd(s, d, "lineitem")
      graft.sources.Layout.zOrderPruningReport(li,
        col("l_orderkey") * 2654435761L,
        col("l_partkey") * 2246822519L,
        probes = Seq(
          (0L, 8191L, 0L, 8191L),         // aligned square: z 1, linear 8
          (4096L, 12287L, 4096L, 12287L), // straddling square: z 4
          (0L, 65535L, 20480L, 22527L),   // thin y-band: linear opens ALL
          (20480L, 22527L, 0L, 65535L)),  // thin x-band: both prune on x
        bits = 16, unitBits = 6)
    },
      OracleSql.zOrderPruning(
        "l_orderkey * 2654435761", "l_partkey * 2246822519", "lineitem",
        probes = Seq(
          (0L, 8191L, 0L, 8191L),
          (4096L, 12287L, 4096L, 12287L),
          (0L, 65535L, 20480L, 22527L),
          (20480L, 22527L, 0L, 65535L)),
        bits = 16, unitBits = 6)),
    Gate("layout_clustering_depth", (s, d) => {
      // the OPTIMIZE planner's "needs re-clustering" signal: per-file
      // interval-overlap counts over a MIXED layout — two hash-routed
      // units span the whole key domain (deep overlap: min/max skipping
      // is blind there) while range units stay shallow. Units are
      // value-derived so both engines replay the identical layout
      val li = rd(s, d, "lineitem").select(
        when(col("l_suppkey") % 10 === 0,
          concat(lit("h"), (col("l_orderkey") % 2).cast("string")))
          .otherwise(concat(lit("s"),
            expr("l_orderkey div 50000").cast("string"))).as("file"),
        col("l_orderkey").as("k"))
      val manifest = li.groupBy("file")
        .agg(min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      graft.sources.Layout.clusteringDepth(manifest, "k")
    },
      ("WITH u AS (SELECT CASE WHEN l_suppkey % 10 = 0 " +
        "THEN 'h' || CAST(l_orderkey % 2 AS VARCHAR) " +
        "ELSE 's' || CAST(l_orderkey // 50000 AS VARCHAR) END AS file, " +
        "l_orderkey AS k FROM lineitem), " +
        "m AS (SELECT file, min(k) AS k_min, max(k) AS k_max FROM u GROUP BY 1) " +
        "SELECT a.file, a.k_min, a.k_max, CAST(count(b.file) AS BIGINT) AS n_overlaps " +
        "FROM m a LEFT JOIN m b ON a.file <> b.file " +
        "AND a.k_max >= b.k_min AND a.k_min <= b.k_max GROUP BY 1, 2, 3")),
    Gate("layout_encoding_advisor", (s, d) => {
      // encoding advisor: per-column layout stats (global cardinality +
      // runs WITHIN each physical unit along its sort) and the
      // cross-multiplied rle/dict/plain rule. Units are supplier mod 8,
      // sorted by ship date — so ship_year runs long (rle) while
      // returnflag's 3 values interleave (dict) and a unique line id
      // compresses with neither (plain)
      val li = rd(s, d, "lineitem").select(
        (col("l_suppkey") % 8).as("unit"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("ship_year"),
        col("l_returnflag"), col("l_suppkey"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("line_id"))
      graft.sources.Layout.encodingAdvisor(li, col("unit"),
        Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
        Seq("ship_year", "l_returnflag", "l_suppkey", "line_id"))
    },
      {
        val cols = Seq("ship_year", "l_returnflag", "l_suppkey", "line_id")
        val lags = cols.map(c => s"lag($c) OVER w AS lag_$c").mkString(", ")
        val stats = cols.map(c =>
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$c, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c, " +
            s"CAST(sum(CASE WHEN rn = 1 OR $c IS DISTINCT FROM lag_$c THEN 1 ELSE 0 END) AS BIGINT) AS runs_$c, " +
            s"CAST(sum(coalesce(length(CAST($c AS VARCHAR)), 0)) AS BIGINT) AS chars_$c").mkString(", ")
        val unions = cols.map(c =>
          s"SELECT '$c' AS col_name, n AS n_rows, nulls_$c AS n_nulls, nd_$c AS n_distinct, " +
            s"runs_$c AS n_runs, chars_$c AS chars FROM st").mkString(" UNION ALL ")
        "WITH b AS (SELECT l_suppkey % 8 AS unit, l_shipdate, l_orderkey, l_linenumber, " +
          "CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag, l_suppkey, " +
          "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS line_id FROM lineitem), " +
          s"lg AS (SELECT *, row_number() OVER w AS rn, $lags FROM b " +
          "WINDOW w AS (PARTITION BY unit ORDER BY l_shipdate, l_orderkey, l_linenumber)), " +
          s"st AS (SELECT CAST(count(*) AS BIGINT) AS n, $stats FROM lg) " +
          s"SELECT col_name, n_rows, n_nulls, n_distinct, n_runs, chars, " +
          "CASE WHEN n_runs * 8 <= n_rows THEN 'rle' " +
          "WHEN n_distinct * 20 <= n_rows THEN 'dict' ELSE 'plain' END AS encoding " +
          s"FROM ($unions)"
      }),
    Gate("text_bpe_merges", (s, d) =>
      // tokenizer training where the data lives: the first 8 BPE
      // merges of the corpus, learned as k one-aggregate rounds over
      // the Zipf-collapsed (word, freq) vocab — counts exact, argmax
      // (count desc, pair asc), merges applied as one literal
      // left-to-right replace both engines perform identically
      TextAnalysis.bpeMerges(rd(s, d, "documents"), k = 8),
      OracleSql.bpeMerges(k = 8)),
    Gate("text_bpe_compression", (s, d) =>
      // the tokenizer-eval number that decides k: corpus symbol counts
      // before (chars) and after the 8 learned merges, frequency-
      // weighted, compression on the exact ppm grid
      TextAnalysis.bpeCompressionReport(rd(s, d, "documents"), k = 8),
      OracleSql.bpeCompression(k = 8)),
    Gate("text_source_terms", (s, d) =>
      // c-TF-IDF shape: what characterizes each source vs the corpus
      TextAnalysis.sourceDistinctiveTerms(rd(s, d, "documents"), k = 5),
      ("WITH toks AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents), " +
        "tf AS (SELECT source, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2), " +
        "sdf AS (SELECT token, count(*) AS n_sources FROM tf GROUP BY 1) " +
        "SELECT source, token, CAST(tf AS INT) AS tf, CAST(n_sources AS INT) AS n_sources, rank FROM (" +
        "SELECT tf.source, tf.token, tf.tf, sdf.n_sources, CAST(row_number() OVER " +
        "(PARTITION BY tf.source ORDER BY CAST(tf.tf AS DOUBLE) / sdf.n_sources DESC, sdf.n_sources, tf.token) AS INT) AS rank " +
        "FROM tf JOIN sdf ON tf.token = sdf.token) q WHERE rank <= 5")),
    Gate("text_tfidf_terms", (s, d) =>
      TextAnalysis.topDistinctiveTerms(rd(s, d, "documents"), k = 3),
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1) " +
        "SELECT doc_id, token, CAST(tf AS INT) AS tf, CAST(df AS INT) AS df, rank FROM (" +
        "SELECT tf.doc_id, tf.token, tf.tf, df.df, CAST(row_number() OVER " +
        "(PARTITION BY tf.doc_id ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, df.df, tf.token) AS INT) AS rank " +
        "FROM tf JOIN df ON tf.token = df.token) q WHERE rank <= 3")),
    Gate("text_bigram_novelty", (s, d) =>
      // leave-one-out containment: the share of each doc's bigram
      // occurrences appearing in NO other doc — boilerplate/template/
      // contamination flag that token-level repetition misses
      TextAnalysis.bigramNovelty(rd(s, d, "documents")),
      ("WITH arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents), " +
        "g AS (SELECT doc_id, unnest([a[i] || ' ' || a[i+1] FOR i IN generate_series(1, len(a)-1)]) AS gm FROM arr), " +
        "dc AS (SELECT doc_id, gm, count(*) AS c FROM g GROUP BY 1, 2), " +
        "gc AS (SELECT gm, CAST(sum(c) AS BIGINT) AS gct FROM dc GROUP BY 1), " +
        "agg AS (SELECT dc.doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, " +
        "CAST(count(*) AS BIGINT) AS n_distinct_bigrams, " +
        "CAST(coalesce(sum(c) FILTER (WHERE gct = c), 0) AS BIGINT) AS n_novel " +
        "FROM dc JOIN gc USING (gm) GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams, " +
        "coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams, " +
        "coalesce(n_novel, 0) AS n_novel, " +
        "CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0 " +
        "ELSE n_novel * 1000000 // n_bigrams END AS novelty_ppm " +
        "FROM documents d LEFT JOIN agg USING (doc_id)")),
    Gate("text_readability", (s, d) =>
      // corpus-level Flesch reading ease per source from exact long
      // counts (words / sentence runs / vowel-group syllable proxy)
      TextAnalysis.readabilityBySource(rd(s, d, "documents")),
      OracleSql.readabilityBySource),
    Gate("text_novelty_curve", (s, d) => {
      // corpus-saturation audit: novel-trigram yield per source by
      // crawl-order decile — the "is this source mined out?" signal.
      // First-occurrence attribution is global (the same keep-first
      // rule as the dedup family); deciles come from the per-source
      // rank so sources of different sizes compare on one axis
      val docs = rd(s, d, "documents")
      val nov = Dedup.noveltyScores(docs).select("doc_id", "n_novel")
      val srcCounts = docs.groupBy("source").agg(count(lit(1)).as("__nsrc"))
      val rkW = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      docs.select("doc_id", "source")
        .join(nov, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .withColumn("__rk", row_number().over(rkW))
        .join(broadcast(srcCounts), "source")
        .withColumn("decile",
          expr("CAST((__rk - 1) * 10 div __nsrc AS INT)"))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_novel")).as("sum_novel"))
    },
      OracleSql.textNoveltyCurve),
    Gate("text_blocklist", (s, d) => {
      // policy-term scanning: per-doc counts of every blocklist pattern
      // from ONE Aho-Corasick pass (all occurrences, overlapping
      // included); only matched (doc, pattern) rows survive
      val docs = rd(s, d, "documents")
      docs.select(col("doc_id"),
        explode(map_from_arrays(
          array(blocklist.map(lit): _*),
          graft.functions.multi_count(col("text"), blocklist)))
          .as(Seq("pattern", "n_hits")))
        .where(col("n_hits") > 0)
    },
      OracleSql.textBlocklist(blocklist)),
    Gate("pipeline_training_mix", (s, d) => {
      // the whole curation pipeline as ONE declarative plan: repetition
      // quality gate -> PII scrub -> exact dedup on the scrubbed
      // fingerprint (keep-first) -> deterministic split -> mix counts.
      // Catalyst sees every stage at once, so pruning/pushdown cross
      // stage boundaries — the composition argument for operators as
      // DataFrame => DataFrame
      val docs = rd(s, d, "documents")
      val rep = TextAnalysis.repetitionSignals(docs, includeBigrams = false)
        .select("doc_id", "n_tokens", "top_token_count")
      val kept = docs.join(rep, "doc_id")
        .filter(col("top_token_count") * 5 <= col("n_tokens") &&
          col("n_tokens") >= 30)
      val red = TextAnalysis.redactPii(kept)
        .select(col("doc_id"), md5(col("redacted")).as("__fp"))
        .join(kept.select("doc_id", "source", "n_tokens"), "doc_id")
      val ded = red.withColumn("__rk", row_number().over(
        Window.partitionBy("__fp").orderBy("doc_id")))
        .filter(col("__rk") === 1)
      Sampling.hashSplit(ded, "doc_id", "mix3", splitFractions)
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    },
      {
        val e = graft.operators.TextAnalysis.emailPattern
        val ip = graft.operators.TextAnalysis.ipv4Pattern
        val ph = graft.operators.TextAnalysis.phonePattern
        val num = graft.operators.TextAnalysis.longNumPattern
        ("WITH rep AS (SELECT doc_id, CAST(sum(c) AS INT) AS n_tokens, CAST(max(c) AS INT) AS top_token_count " +
          "FROM (SELECT doc_id, tok, count(*) AS c FROM (SELECT doc_id, " +
          "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents) t GROUP BY 1, 2) g GROUP BY 1), " +
          "kept AS (SELECT d.doc_id, d.source, d.text, rep.n_tokens FROM documents d " +
          "JOIN rep ON d.doc_id = rep.doc_id WHERE rep.top_token_count * 5 <= rep.n_tokens AND rep.n_tokens >= 30), " +
          s"red AS (SELECT doc_id, source, n_tokens, md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
          s"text, '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g'), '$num', '<NUM>', 'g')) AS fp FROM kept), " +
          "ded AS (SELECT doc_id, source, n_tokens FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM red) q WHERE rk = 1), " +
          s"spl AS (SELECT source, n_tokens, ${OracleSql.hashSplitCase("CAST(doc_id AS VARCHAR)", "mix3", splitFractions)} AS split FROM ded) " +
          "SELECT split, source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens FROM spl GROUP BY 1, 2")
      }),
    Gate("pipeline_curation_v2", (s, d) => {
      // round-3 curation flagship, composing THIS round's operators as
      // one declarative plan: substring-level dedup (repeated spans
      // excised, docs reassembled) -> length floor on the CLEANED text
      // -> lexicon-relevance importance sampling -> fixed-budget shard
      // packing -> shard stats
      val docs = rd(s, d, "documents")
      // NOT persisted although referenced twice: both references live
      // under one action, where ReuseExchange already dedups the
      // span-excise subplan — measured flat with an explicit cache
      // (round-13 A/B), so the cache memory is not paid
      val cleaned = Dedup.exciseRepeatedSpans(docs, window = 10, emitText = true)
        .filter(col("n_kept") >= 30)
        .join(docs.select("doc_id", "source"), "doc_id")
      val rel = TextAnalysis.lexiconRelevance(
        cleaned.select(col("doc_id"), col("clean_text").as("text")),
        Seq("join", "hash", "scan", "filter", "merge"))
      val scored = cleaned.select("doc_id", "source", "n_kept")
        .join(rel.select("doc_id", "n_relevant"), "doc_id")
      val sampled = Sampling.weightedKeep(scored, "doc_id", "n_relevant", "cur2", 30L)
      Sampling.packByBudget(sampled, "source", "doc_id", "n_kept", budget = 2000L)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_kept")).as("sum_tokens"))
    },
      (s"WITH ${OracleSql.exciseSpansCtes(10)}, " +
        "cbase AS (SELECT d.doc_id, d.source, cl.n_kept FROM documents d JOIN cl USING (doc_id) WHERE cl.n_kept >= 30), " +
        // relevance over the CLEANED tokens: `kept` IS the cleaned corpus
        "crel AS (SELECT doc_id, count(*) AS n_rel FROM kept " +
        "WHERE tok IN ('join','hash','scan','filter','merge') GROUP BY doc_id), " +
        "cscored AS (SELECT b.doc_id, b.source, b.n_kept, COALESCE(r.n_rel, 0) AS n_relevant " +
        "FROM cbase b LEFT JOIN crel r USING (doc_id)), " +
        s"csamp AS (SELECT * FROM cscored WHERE ${OracleSql.weightedKeepWhere(
          "CAST(doc_id AS VARCHAR)", "n_relevant", "cur2", 30L)}), " +
        "cpack AS (SELECT source, n_kept, CAST(floor(coalesce(sum(n_kept) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000) AS INT) AS bin " +
        "FROM csamp) " +
        "SELECT source, bin, count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS sum_tokens FROM cpack GROUP BY 1, 2")),
    Gate("pipeline_curation_v3", (s, d) => {
      // curation flagship composing THIS session's operators as one
      // declarative plan: novelty gate (first-seen-content share) ->
      // corpus-LM quality gate -> cluster-safe leakage-proof split ->
      // per-(split, source) corpus stats. Catalyst sees the whole
      // chain; the gram pipeline feeds novelty AND the cluster pairs
      val docs = rd(s, d, "documents")
      val keep = docs.select("doc_id", "source")
        .join(Dedup.noveltyScores(docs)
          .where(col("novelty_ppm") >= 500000).select("doc_id", "n_novel"), "doc_id")
        .join(TextAnalysis.docLmScore(docs)
          .where(col("avg_kn_ppm") >= 34000).select("doc_id"), "doc_id")
      val pairs = sharedPairs(s, d)
      Sampling.clusterSafeSplit(keep, pairs, "doc_id", "cur3", splitFractions)
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_novel")).as("sum_novel"))
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "fs AS (SELECT g, min(doc_id) AS first_id FROM tri GROUP BY g), " +
        "nv AS (SELECT first_id AS doc_id, count(*) AS n_novel FROM fs GROUP BY 1), " +
        s"$knLmCtes, " +
        "score AS (SELECT bg.doc_id, CAST(sum(kn_ppm) // count(*) AS BIGINT) AS avg_kn_ppm " +
        "FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2 GROUP BY 1), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "keep AS (SELECT d.doc_id, d.source, nv.n_novel FROM documents d " +
        "JOIN sz ON sz.doc_id = d.doc_id " +
        "JOIN nv ON nv.doc_id = d.doc_id AND nv.n_novel * 1000000 // sz.n >= 500000 " +
        "JOIN score sc ON sc.doc_id = d.doc_id AND sc.avg_kn_ppm >= 34000), " +
        "sp AS (SELECT k.doc_id, k.source, k.n_novel, " +
        OracleSql.hashSplitCase(
          "CAST(coalesce(c.cluster_id, k.doc_id) AS VARCHAR)", "cur3", splitFractions) +
        " AS split FROM keep k LEFT JOIN cl c ON c.doc_id = k.doc_id) " +
        "SELECT split, source, count(*) AS n_docs, CAST(sum(n_novel) AS BIGINT) AS sum_novel " +
        "FROM sp GROUP BY 1, 2")),
    Gate("pipeline_curation_v4", (s, d) => {
      // corpus-assembly flagship: near-dup keep-list (one best copy per
      // cluster) -> temperature-0.5 source mixture from a fixed 300-doc
      // budget over the SURVIVORS -> per-source shard packing to a
      // 20k-char budget -> per-(source, shard) manifest stats. The
      // budgeted-mixture step is what turns a cleaned corpus into a
      // training mix
      val docs = rd(s, d, "documents")
      val keep = sharedKeepList(s, d)
      val survivors = docs.select("doc_id", "source", "n_chars")
        .join(keep.filter(col("keep_flag") === 1).select("doc_id"), "doc_id")
      val picked = Sampling.temperatureSample(
        survivors, "doc_id", "source", "mix4", 300L, 0.5)
      Sampling.packByBudget(picked, "source", "doc_id", "n_chars", 20000L, "shard")
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "reps AS (SELECT c.doc_id, row_number() OVER " +
        "(PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM cl c JOIN documents d ON d.doc_id = c.doc_id), " +
        "surv AS (SELECT d.doc_id, d.source, d.n_chars FROM documents d " +
        "LEFT JOIN reps r ON r.doc_id = d.doc_id WHERE r.doc_id IS NULL OR r.rn = 1), " +
        OracleSql.temperatureAllocCtesFrom(300, "surv") + ", " +
        "rk AS (SELECT v.source, v.doc_id, v.n_chars, row_number() OVER (PARTITION BY v.source " +
        "ORDER BY md5('mix4:' || CAST(v.doc_id AS VARCHAR)) NULLS FIRST, v.doc_id NULLS FIRST) AS rk FROM surv v), " +
        "samp AS (SELECT rk.source, rk.doc_id, rk.n_chars FROM rk " +
        "JOIN talloc ON rk.source = talloc.source WHERE rk.rk <= talloc.alloc), " +
        "pk AS (SELECT source, doc_id, n_chars, CAST(floor(coalesce(sum(n_chars) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 20000) AS INT) AS shard " +
        "FROM samp) " +
        "SELECT source, shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc FROM pk GROUP BY source, shard")),
    Gate("pipeline_curation_v5", (s, d) => {
      // training-RUN assembly flagship: near-dup keep-list (best copy
      // per cluster) -> reproducible source-interleaved global order
      // over the survivors -> the interleaved token stream packed into
      // 64-token context windows -> per-window manifest (docs, fill,
      // order-key span). This is the complete batch the trainer reads:
      // deduped, source-balanced, zero-padding
      val docs = rd(s, d, "documents")
      val keep = sharedKeepList(s, d)
      // token counts BEFORE the interleave so the range shuffle moves
      // (doc_id, source, n_toks) triples, never document text
      val survivors = docs
        .select(col("doc_id"), col("source"),
          size(filter(graft.functions.tokens(col("text")), t => t =!= ""))
            .cast("long").as("n_toks"))
        .join(keep.filter(col("keep_flag") === 1).select("doc_id"), "doc_id")
      val ordered = Sampling
        .interleaveOrder(survivors, "source", "doc_id", salt = "ilv5")
        .select(col("order_key"), col("n_toks"))
      Sampling.packContextStream(ordered, "order_key", "n_toks", capacity = 64)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_in_seq")).as("n_toks"),
          min(col("order_key")).as("first_key"),
          max(col("order_key")).as("last_key"))
    },
      (s"WITH RECURSIVE $ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "reps AS (SELECT c.doc_id, row_number() OVER " +
        "(PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM cl c JOIN documents d ON d.doc_id = c.doc_id), " +
        "surv AS (SELECT d.doc_id, d.source, d.text FROM documents d " +
        "LEFT JOIN reps r ON r.doc_id = d.doc_id WHERE r.doc_id IS NULL OR r.rn = 1), " +
        "si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx " +
        "FROM (SELECT DISTINCT source FROM surv)), " +
        "nn AS (SELECT count(*) AS nsrc FROM si), " +
        "rkd AS (SELECT doc_id, source, text, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('ilv5:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk FROM surv), " +
        "ord AS (SELECT CAST(rk * nsrc + sidx AS BIGINT) AS order_key, " +
        "CAST(len([t for t in regexp_split_to_array(lower(trim(text)), '\\s+') if t <> '']) AS BIGINT) AS n " +
        "FROM rkd JOIN si USING (source) CROSS JOIN nn), " +
        "fo AS (SELECT * FROM ord WHERE n > 0), " +
        "offs AS (SELECT order_key, n, CAST(coalesce(sum(n) OVER (ORDER BY order_key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM fo), " +
        "expl AS (SELECT order_key, s, s + n AS e, unnest(generate_series(s // 64, (s + n - 1) // 64)) AS seq_id FROM offs), " +
        "spans AS (SELECT order_key, seq_id, least(e, (seq_id + 1) * 64) - greatest(s, seq_id * 64) AS n_in_seq FROM expl) " +
        "SELECT seq_id, count(*) AS n_docs, CAST(sum(n_in_seq) AS BIGINT) AS n_toks, " +
        "min(order_key) AS first_key, max(order_key) AS last_key FROM spans GROUP BY seq_id")),
    Gate("pipeline_curation_v6", (s, d) => {
      // learned-filter curation flagship: near-dup keep-list INTERSECT
      // the trained probe's keep set (docs at/above the precision-target
      // score bin) -> interleaved order -> 64-token context packing.
      // Pipeline order is dedup-then-filter: cluster survivors are
      // chosen on the full corpus, the probe then prunes survivors
      val docs = rd(s, d, "documents")
      val keep = sharedKeepList(s, d)
      // the trained probe's keep set is a content-addressed stage, not
      // a per-run refit: a quality filter is a trained ARTIFACT served
      // to many pipeline runs (train once, score once, reuse), and the
      // round-11 in-suite cost drift on this gate was dominated by
      // re-paying the 3-iteration probe fit on every execution. The
      // fit itself stays benched: `stage_probekeep_build` recomputes
      // the full derivation from parquet on every timed pass, and
      // Bench wipes `stage_*` at startup
      val probeKeep = sharedProbeKeep(s, d)
      val survivors = docs
        .select(col("doc_id"), col("source"),
          size(filter(graft.functions.tokens(col("text")), t => t =!= ""))
            .cast("long").as("n_toks"))
        .join(keep.filter(col("keep_flag") === 1).select("doc_id"), "doc_id")
        .join(probeKeep, "doc_id")
      val ordered = Sampling
        .interleaveOrder(survivors, "source", "doc_id", salt = "ilv6")
        .select(col("order_key"), col("n_toks"))
      Sampling.packContextStream(ordered, "order_key", "n_toks", capacity = 64)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_in_seq")).as("n_toks"),
          min(col("order_key")).as("first_key"),
          max(col("order_key")).as("last_key"))
    },
      (s"WITH RECURSIVE ${OracleSql.probePrCtes("length(source) = 4", 10, 16, 3, 1.0 / 1024, 20, "probe")}, " +
        "psel AS (SELECT min(bin) AS bin FROM pr WHERE precision_ppm >= 520000), " +
        "pbn AS (SELECT doc_id, CAST((score_ppm - mn) * 10 // (mx - mn + 1) AS INT) AS bin FROM sc, bd), " +
        "pk AS (SELECT doc_id FROM pbn, psel WHERE pbn.bin >= psel.bin), " +
        s"$ngramCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node), " +
        "cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM wlk GROUP BY node), " +
        "reps AS (SELECT c.doc_id, row_number() OVER " +
        "(PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM cl c JOIN documents d ON d.doc_id = c.doc_id), " +
        "surv AS (SELECT d.doc_id, d.source, d.text FROM documents d " +
        "LEFT JOIN reps r ON r.doc_id = d.doc_id " +
        "WHERE (r.doc_id IS NULL OR r.rn = 1) AND d.doc_id IN (SELECT doc_id FROM pk)), " +
        "si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx " +
        "FROM (SELECT DISTINCT source FROM surv)), " +
        "nn AS (SELECT count(*) AS nsrc FROM si), " +
        "rkd AS (SELECT doc_id, source, text, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5('ilv6:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk FROM surv), " +
        "ord AS (SELECT CAST(rk * nsrc + sidx AS BIGINT) AS order_key, " +
        "CAST(len([t for t in regexp_split_to_array(lower(trim(text)), '\\s+') if t <> '']) AS BIGINT) AS n " +
        "FROM rkd JOIN si USING (source) CROSS JOIN nn), " +
        "fo AS (SELECT * FROM ord WHERE n > 0), " +
        "offs AS (SELECT order_key, n, CAST(coalesce(sum(n) OVER (ORDER BY order_key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM fo), " +
        "expl AS (SELECT order_key, s, s + n AS e, unnest(generate_series(s // 64, (s + n - 1) // 64)) AS seq_id FROM offs), " +
        "spans AS (SELECT order_key, seq_id, least(e, (seq_id + 1) * 64) - greatest(s, seq_id * 64) AS n_in_seq FROM expl) " +
        "SELECT seq_id, count(*) AS n_docs, CAST(sum(n_in_seq) AS BIGINT) AS n_toks, " +
        "min(order_key) AS first_key, max(order_key) AS last_key FROM spans GROUP BY seq_id")),
    Gate("doc_chunks", (s, d) =>
      // 50-token training windows per doc; md5 of the reassembled text
      // keeps the gated output compact while pinning exact order
      TextAnalysis.chunkDocuments(rd(s, d, "documents"), chunkTokens = 50)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5")),
      ("WITH t AS (SELECT doc_id, CAST(unnest(generate_series(1, len(a))) - 1 AS INT) AS pos, unnest(a) AS tok " +
        "FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)) " +
        "SELECT doc_id, CAST(pos // 50 AS INT) AS chunk_idx, CAST(count(*) AS INT) AS n_chunk_tokens, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5 FROM t GROUP BY 1, 2")),
    Gate("doc_windows", (s, d) =>
      // overlapping training windows (8 tokens, stride 4): consecutive
      // windows share half their context — the standard LM layout that
      // keeps context across chunk boundaries; ragged last window kept
      TextAnalysis.slidingWindows(rd(s, d, "documents"),
        windowTokens = 8, stride = 4)
        .select(col("doc_id"), col("window_idx"), col("n_window_tokens"),
          md5(col("window_text")).as("window_md5")),
      ("WITH t AS (SELECT doc_id, len(a) AS n, CAST(unnest(generate_series(1, len(a))) - 1 AS INT) AS pos, unnest(a) AS tok " +
        "FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents)), " +
        "w AS (SELECT doc_id, n, pos, tok, CAST(unnest(generate_series(" +
        "CAST((greatest(0, pos - 7) + 3) // 4 AS INT), CAST(pos // 4 AS INT))) AS INT) AS window_idx FROM t), " +
        "f AS (SELECT * FROM w WHERE window_idx <= (greatest(0, n - 8) + 3) // 4) " +
        "SELECT doc_id, window_idx, CAST(count(*) AS INT) AS n_window_tokens, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS window_md5 FROM f GROUP BY 1, 2")),
    Gate("sample_kfold", (s, d) =>
      // 5-fold CV assignment from the hash grid; per-fold corpus stats
      Sampling.kFold(rd(s, d, "documents"), "doc_id", "cv1", k = 5)
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")),
      (s"WITH s AS (SELECT doc_id, n_chars, ${OracleSql.hashSplitCase(
        "CAST(doc_id AS VARCHAR)", "cv1",
        (0 until 5).map(i => s"f$i" -> 0.2))} AS fold FROM documents) " +
        "SELECT fold, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM s GROUP BY fold")),
    Gate("text_token_fertility", (s, d) =>
      // tokenizer-sizing signal: BPE-ish tokens per whitespace word
      // per source, exact integer ppm — high fertility flags the
      // slices the tokenizer fragments
      TextAnalysis.tokenFertility(rd(s, d, "documents")),
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_bpe_tokens, " +
        "CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) AS sum_words, " +
        "CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) * 1000000 // " +
        "sum(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) AS fertility_ppm " +
        "FROM documents GROUP BY source")),
    Gate("text_vocab_curve", (s, d) =>
      // tokenizer-sizing audit: OOV occurrence ppm at candidate vocab
      // sizes, all served from the vocabulary-sized count table
      TextAnalysis.vocabCoverageCurve(rd(s, d, "documents"), Seq(10, 25, 50, 100)),
      ("WITH tf AS (SELECT tok FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok " +
        "FROM documents) WHERE tok <> ''), " +
        "c AS (SELECT tok, count(*) AS n FROM tf GROUP BY tok), " +
        "r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM c), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c), " +
        "v(vocab_size) AS (VALUES (10), (25), (50), (100)) " +
        "SELECT v.vocab_size, CAST(coalesce(sum(CASE WHEN r.rk > v.vocab_size THEN 1 END), 0) AS BIGINT) AS n_oov_types, " +
        "CAST(coalesce(sum(CASE WHEN r.rk > v.vocab_size THEN r.n END), 0) * 1000000 // (SELECT total FROM t) AS BIGINT) AS oov_ppm " +
        "FROM r, v GROUP BY v.vocab_size")),
    Gate("emb_label_profile", (s, d) =>
      // per-label centroid profile in exact fixed point: the sums are
      // integers, so the result is partition-order-independent and
      // engine-portable (a raw float mean would drift per run)
      Similarity.groupedVectorSums(rd(s, d, "embeddings")),
      ("WITH x AS (SELECT label, CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS dim, " +
        "unnest(embedding) AS v FROM embeddings) " +
        "SELECT label, dim, count(*) AS n_vecs, " +
        "CAST(sum(CAST(round(CAST(v AS DOUBLE) * 16777216.0) AS BIGINT)) AS BIGINT) AS sum_fp " +
        "FROM x GROUP BY 1, 2")),
    Gate("emb_covariance", (s, d) =>
      // exact-integer Gram matrix (upper triangle): the PCA/whitening
      // accumulation — dim^2 map-side expansion, one O(dim^2)-group shuffle
      Similarity.vectorSecondMoments(rd(s, d, "embeddings")),
      ("WITH x AS (SELECT vec_id, CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS i, " +
        "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 16777216.0) AS BIGINT) AS q FROM embeddings) " +
        "SELECT a.i, b.i AS j, count(*) AS n_vecs, " +
        "CAST(CAST(sum(a.q * b.q) AS DECIMAL(38,0)) AS VARCHAR) AS sumprod_fp " +
        "FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2")),
    Gate("emb_top_eigvec", (s, d) =>
      // one-component PCA by pinned power iteration: the only
      // data-sized step is the exact-integer Gram pass; the 64x64
      // matrix iterates on the driver in a fixed IEEE accumulation
      // order both engines replay bit-for-bit
      Similarity.topEigenvector(rd(s, d, "embeddings"), iters = 8),
      OracleSql.embTopEigvec(iters = 8, dim = 64)),
    Gate("sketch_cm_join_size", (s, d) => {
      // join-size estimation for the planner: |orders ⋈ lineitem| from
      // two fixed-size Count-Min register sets (the tables are never
      // joined to estimate) — min-of-rows register dot, never an
      // undercount; the exact count rides along from group counts
      graft.operators.Sketches.cmJoinSizeEstimate(
        rd(s, d, "orders"), col("o_orderkey"),
        rd(s, d, "lineitem"), col("l_orderkey"),
        depth = 4, width = 65536)
    },
      // collision-free width => CM estimates ARE the exact counts, so the
      // plain GROUP BY gates the whole sketch pipeline
      OracleSql.cmJoinSize("o_orderkey", "orders", "l_orderkey", "lineitem",
        depth = 4, width = 65536)),
    Gate("sketch_count_min", (s, d) => {
      // Count-Min point-frequency estimates for each source's top-5
      // tokens. Width 65536 vs ~600 distinct (source, token) keys =>
      // collision-free, so every estimate is EXACT and the plain
      // GROUP BY oracle gates the whole sketch pipeline; narrow widths
      // are the bounded-memory scale tier (never-undercount bound,
      // spec-tested)
      val depth = 3; val width = 65536
      val cm = udaf(new graft.functions.CountMinAgg(depth, width),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]())
      val toks = rd(s, d, "documents")
        .select(col("source"), explode(graft.functions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val key = concat_ws("\u0001", col("source"), col("token"))
      val sketch = toks
        .select(graft.functions.CountMinAgg.positions(key, depth, width).as("pos"))
        .agg(cm(col("pos")).as("sk"))
      toks.groupBy("source", "token").agg(count(lit(1)).as("n_true"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("n_true").desc, col("token"))))
        .filter(col("rk") <= 5)
        .crossJoin(broadcast(sketch))
        .select(col("source"), col("token"),
          graft.functions.CountMinAgg.estimate(col("sk"), key, depth, width).as("n"))
    },
      ("WITH t AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents), " +
        "c AS (SELECT source, token, count(*) AS n FROM t WHERE token <> '' GROUP BY 1, 2) " +
        "SELECT source, token, n FROM (SELECT source, token, n, " +
        "row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rk FROM c) q WHERE rk <= 5")),
    Gate("sketch_heavy_hitters", (s, d) => {
      // Misra-Gries top tokens per source. Capacity 4096 far exceeds
      // the corpus vocabulary, so counts are exact and the summary
      // matches a plain GROUP BY — the oracle tier; the same operator
      // with small capacity is the bounded-memory scale tier
      // (guarantee-only, spec-tested)
      val hh = udaf(new HeavyHittersAgg(4096),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
      rd(s, d, "documents")
        .select(col("source"), explode(graft.functions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("source").agg(hh(col("token")).as("hist"))
        .select(col("source"), explode(col("hist")).as(Seq("token", "n")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("n").desc, col("token"))))
        .filter(col("rk") <= 5).drop("rk")
    },
      ("WITH t AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents), " +
        "c AS (SELECT source, token, count(*) AS n FROM t WHERE token <> '' GROUP BY 1, 2) " +
        "SELECT source, token, n FROM (SELECT source, token, n, " +
        "row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rk FROM c) q WHERE rk <= 5")),

    // —— round-5 batch: classic OLAP shapes + affinity + stats + layout ——
    Gate("q5_region_revenue", (s, d) => {
      // TPC-H Q5 shape: snowflake join with the locality predicate
      // (customer and supplier share a nation); the two pure
      // dimensions broadcast, the c=s nationkey equality rides the
      // supplier join so no extra shuffle is introduced
      val c = rd(s, d, "customer"); val o = rd(s, d, "orders")
      val l = rd(s, d, "lineitem"); val su = rd(s, d, "supplier")
      val n = rd(s, d, "nation"); val r = rd(s, d, "region")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("o_orderdate") >= tlit("1996-01-01 00:00:00") &&
          col("o_orderdate") < tlit("1998-01-01 00:00:00"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    },
      ("SELECT r_name, n_name, count(*) AS n_lines, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue " +
        "FROM customer c JOIN orders o ON c_custkey = o_custkey " +
        "JOIN lineitem l ON l_orderkey = o_orderkey " +
        "JOIN supplier s ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation n ON s_nationkey = n_nationkey " +
        "JOIN region r ON n_regionkey = r_regionkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2")),
    Gate("q9_profit_nation_year", (s, d) => {
      // TPC-H Q9 shape: profit = revenue minus supply cost, per
      // nation and ship year, carried e4-exact through integer grids
      // (price cents x discount basis points minus retail cents x
      // integral quantity x 100) and summed in decimal(38,0) — the
      // q_supplier_part overflow discipline
      val l = rd(s, d, "lineitem"); val p = rd(s, d, "part")
      val su = rd(s, d, "supplier"); val n = rd(s, d, "nation")
      val cents = (c: Column) => round(c * 100).cast("long")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .where(col("p_size").between(5, 40))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("o_year"))
        .agg(count(lit(1)).as("n_lines"),
          sum((cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))) -
            cents(col("p_retailprice")) * col("l_quantity").cast("long") * lit(100L))
            .cast("decimal(38,0)")).cast("string").as("amount_e4"))
    },
      ("SELECT n_name, CAST(year(l_shipdate) AS INT) AS o_year, count(*) AS n_lines, " +
        "CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) - " +
        "CAST(round(p_retailprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT) * 100) " +
        "AS DECIMAL(38,0)) AS VARCHAR) AS amount_e4 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE p_size BETWEEN 5 AND 40 GROUP BY 1, 2")),
    Gate("q8_market_share", (s, d) => {
      // TPC-H Q8 shape (closing the 22-query set): NATION_3's share of
      // PROMO-part volume sold into AMERICA customers, per order year.
      // Volume rides the exact integer grid cents × (10000 − disc_bp)
      // summed in decimal(38,0) (the q9 overflow discipline); the
      // share is ONE integer ppm division, never a float ratio of two
      // float sums. Dims broadcast; the only fact-sized shuffles are
      // the lineitem->orders and orders->customer key joins.
      val li = rd(s, d, "lineitem"); val o = rd(s, d, "orders")
      val c = rd(s, d, "customer"); val su = rd(s, d, "supplier")
      val p = rd(s, d, "part"); val n = rd(s, d, "nation")
      val r = rd(s, d, "region")
      val vol = (round(col("l_extendedprice") * 100).cast("long") *
        (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
        .cast("decimal(38,0)")
      li.join(broadcast(p.filter(col("p_type") === "PROMO").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(o.filter(col("o_orderdate").between(
            tlit("1996-01-01 00:00:00"), tlit("1997-12-31 23:59:59")))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n.select(col("n_nationkey").as("cnk"), col("n_regionkey"))),
          col("c_nationkey") === col("cnk"))
        .join(broadcast(r.filter(col("r_name") === "AMERICA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(su.select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0L).cast("decimal(38,0)"))).as("nv"),
          sum(vol).as("tv"))
        .select(col("o_year"),
          col("nv").cast("string").as("nation_vol_e4"),
          col("tv").cast("string").as("total_vol_e4"),
          expr("CAST(nv * 1000000 div tv AS BIGINT)").as("share_ppm"))
    },
      ("WITH v AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year, n2.n_name AS supp_nation, " +
        "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT) * " +
        "(10000 - CAST(round(l_discount * 10000) AS BIGINT)) AS vol " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO' " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59' " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON n1.n_nationkey = c_nationkey " +
        "JOIN region ON r_regionkey = n1.n_regionkey AND r_name = 'AMERICA' " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN nation n2 ON n2.n_nationkey = s_nationkey), " +
        "a AS (SELECT o_year, sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS nv, " +
        "sum(vol) AS tv FROM v GROUP BY 1) " +
        "SELECT o_year, CAST(nv AS VARCHAR) AS nation_vol_e4, CAST(tv AS VARCHAR) AS total_vol_e4, " +
        "CAST(nv * 1000000 // tv AS BIGINT) AS share_ppm FROM a")),
    Gate("basket_pair_lift", (s, d) =>
      // market-basket mining: co-occurring part pairs with ppm lift;
      // pair expansion is bounded per order, min-support runs before
      // the marginal joins. This gate is ALSO the benched build of the
      // `copairs_ms2` stage (identical operator from the parquet fact)
      graft.operators.Affinity.pairLift(rd(s, d, "lineitem"), minSupport = 2),
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "ic AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1), " +
        "nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM li), " +
        "pr AS (SELECT a.pk AS pk_a, b.pk AS pk_b, count(*) AS n_co FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT pk_a, pk_b, n_co, ia.n_item AS n_a, ib.n_item AS n_b, nb.n_baskets, " +
        "CAST(CAST(1000000 AS HUGEINT) * n_co * nb.n_baskets // " +
        "(CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT) AS lift_ppm " +
        "FROM pr JOIN ic ia ON ia.pk = pr.pk_a JOIN ic ib ON ib.pk = pr.pk_b CROSS JOIN nb")),
    Gate("stage_coedges_build", (s, d) =>
      // MV-REFRESH gate for the co-purchase edge stage the graph_*
      // gates read: the FULL derivation from the parquet fact, timed
      // on every pass (no exists guard, no stage read) — together with
      // Bench's startup stage wipe this keeps every bench run paying
      // and reporting the materialized view's build cost
      coEdgeDerivation(rd(s, d, "lineitem")),
      ("WITH raw AS (SELECT l_suppkey AS s, l_partkey + 1000000 AS p FROM lineitem) " +
        "SELECT DISTINCT src, dst FROM " +
        "(SELECT s AS src, p AS dst FROM raw UNION ALL SELECT p AS src, s AS dst FROM raw)")),
    Gate("stage_triedges_build", (s, d) =>
      // MV-REFRESH gate for the capped 3-clique projection stage
      // (graph_triangles / clustering / link_predict upstream)
      triEdgeDerivation(rd(s, d, "lineitem")),
      ("WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), " +
        "r AS (SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rn FROM lp), " +
        "t3 AS (SELECT o, p, rn FROM r WHERE rn <= 3) " +
        "SELECT x.p AS src, y.p AS dst FROM t3 x JOIN t3 y ON x.o = y.o AND x.rn < y.rn")),
    Gate("stage_probekeep_build", (s, d) =>
      // MV-REFRESH gate for the trained-probe keep-set artifact
      // pipeline_curation_v6 serves: the full train-and-score
      // derivation from the parquet corpus on every pass
      probeKeepDerivation(rd(s, d, "documents")),
      OracleSql.probeKeepSet("length(source) = 4", targetPrecisionPpm = 520000L,
        bins = 10, buckets = 16, iters = 3, lr = 1.0 / 1024, scaleBits = 20,
        salt = "probe")),
    // ----- scaling tier: three deliberately HEAVY, embarrassingly
    // parallel probes (×100/×30 deterministic row multiplier over the fact,
    // integer-exact arithmetic) whose runtime is compute/shuffle-bound
    // rather than fixed-overhead-bound — the driver times the suite at
    // two core counts, and at sf0.1 every ordinary gate is scheduling-
    // floor-bound (round-12 `suspect_cpus_ignored`: all 453 low/high
    // ratios 0.58–1.22), so THESE gates carry the parallelism signal.
    // The multiplier is computed in-plan from the parquet fact (an
    // explode over a literal sequence), never a persisted copy.
    Gate("scale_scan_agg", (s, d) =>
      // CPU-bound tier: ×100 fact scan with per-row integer arithmetic
      // into a 60-group aggregate. The fact is hash-repartitioned by
      // order key FIRST (into shuffle.partitions = the session's core
      // count — scale-adaptive, not a constant): the sf0.1 tables are
      // single parquet files, so without it the whole ×100 explode runs
      // as ONE scan task and the probe cannot show core scaling. The
      // count is EXPLICIT (defaultParallelism): a bare repartition(col)
      // is AQE-coalesced by its pre-explode byte size (~25 MB → 1
      // partition) — AQE cannot know the generate fans out ×100
      rd(s, d, "lineitem")
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .select(col("l_returnflag"), col("l_linestatus"),
          explode(sequence(lit(1L), lit(100L))).as("rep"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          round(col("l_discount") * 100).cast("long").as("disc_c"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("l_returnflag", "l_linestatus", "rep")
        .agg(
          sum(col("price_c") * (lit(100L) - col("disc_c")) * col("rep")).as("rev"),
          sum(col("qty") * col("rep")).as("qty_sum"),
          count(lit(1)).as("n")),
      ("WITH x AS (SELECT l_returnflag, l_linestatus, r.rep, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c, " +
        "CAST(round(l_discount * 100) AS BIGINT) AS disc_c, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem " +
        "CROSS JOIN (SELECT unnest(generate_series(1, 100)) AS rep) r) " +
        "SELECT l_returnflag, l_linestatus, CAST(rep AS BIGINT) AS rep, " +
        "CAST(sum(price_c * (100 - disc_c) * rep) AS BIGINT) AS rev, " +
        "CAST(sum(qty * rep) AS BIGINT) AS qty_sum, count(*) AS n " +
        "FROM x GROUP BY 1, 2, 3")),
    Gate("scale_shuffle_agg", (s, d) =>
      // shuffle-bound tier: ×30 fact exploded to ~30× distinct order
      // keys, full-width exchange into the high-cardinality groupBy,
      // then a 10-row rollup so the output stays oracle-sized
      rd(s, d, "lineitem")
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .select(col("l_orderkey"),
          explode(sequence(lit(1L), lit(30L))).as("rep"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
        .groupBy((col("l_orderkey") * 10 + col("rep")).as("okey"), col("rep"))
        .agg(sum("price_c").as("ord_c"), count(lit(1)).as("n_lines"))
        .groupBy("rep")
        .agg(count(lit(1)).as("n_orders"), sum(col("ord_c")).as("sum_c"),
          max(col("ord_c")).as("max_c"), sum(col("n_lines")).as("n_lines")),
      ("WITH x AS (SELECT l_orderkey, r.rep, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c FROM lineitem " +
        "CROSS JOIN (SELECT unnest(generate_series(1, 30)) AS rep) r), " +
        "g AS (SELECT l_orderkey * 10 + rep AS okey, rep, " +
        "CAST(sum(price_c) AS BIGINT) AS ord_c, count(*) AS n_lines FROM x GROUP BY 1, 2) " +
        "SELECT CAST(rep AS BIGINT) AS rep, count(*) AS n_orders, " +
        "CAST(sum(ord_c) AS BIGINT) AS sum_c, CAST(max(ord_c) AS BIGINT) AS max_c, " +
        "CAST(sum(n_lines) AS BIGINT) AS n_lines FROM g GROUP BY 1")),
    Gate("scale_join_agg", (s, d) =>
      // join-bound tier: the ×30 fact against the order dimension,
      // aggregated per (priority, rep) — 50 rows out
      rd(s, d, "lineitem")
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .select(col("l_orderkey"),
          explode(sequence(lit(1L), lit(30L))).as("rep"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
        .join(rd(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "rep")
        .agg(sum(col("price_c") * col("rep")).as("rev"), count(lit(1)).as("n")),
      ("WITH x AS (SELECT l_orderkey, r.rep, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c FROM lineitem " +
        "CROSS JOIN (SELECT unnest(generate_series(1, 30)) AS rep) r) " +
        "SELECT o.o_orderpriority, CAST(x.rep AS BIGINT) AS rep, " +
        "CAST(sum(x.price_c * x.rep) AS BIGINT) AS rev, count(*) AS n " +
        "FROM x JOIN orders o ON o.o_orderkey = x.l_orderkey GROUP BY 1, 2")),
    Gate("rec_item_cosine", (s, d) =>
      // "bought X also bought": per-item top-10 by squared co-purchase
      // cosine on the ppm grid (monotone with cosine, integer-exact —
      // no sqrt between engines); candidates per item are co-purchase-
      // degree-bounded, never catalog-bounded
      // co-purchase pairs come from the shared staged pair table
      // (basket_pair_lift still mines the same table from the parquet
      // fact); this gate times the directed expansion + per-item top-k
      graft.operators.Affinity.itemCosineTopKFromLift(
        sharedPairLift(s, d), k = 10),
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "ic AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1), " +
        "pr AS (SELECT a.pk AS pk_a, b.pk AS pk_b, count(*) AS n_co FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "base AS (SELECT pk_a, pk_b, n_co, ia.n_item AS n_a, ib.n_item AS n_b " +
        "FROM pr JOIN ic ia ON ia.pk = pr.pk_a JOIN ic ib ON ib.pk = pr.pk_b), " +
        "dir AS (SELECT pk_a AS item, pk_b AS rec, n_co, n_a AS n_i, n_b AS n_r FROM base " +
        "UNION ALL SELECT pk_b, pk_a, n_co, n_b, n_a FROM base), " +
        "sc AS (SELECT item, rec, n_co, " +
        "CAST(1000000::HUGEINT * n_co * n_co // (n_i::HUGEINT * n_r) AS BIGINT) AS cos2_ppm FROM dir) " +
        "SELECT item, CAST(rnk AS INT) AS rnk, rec, n_co, cos2_ppm FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY item ORDER BY cos2_ppm DESC, rec) AS rnk FROM sc) " +
        "WHERE rnk <= 10")),
    Gate("rec_user_topn", (s, d) =>
      // the serving rule on top of the item-item table: per customer,
      // top-5 unbought items by summed cos2-ppm from their purchase
      // history — candidates basket-bounded (k edges per owned item),
      // already-bought anti-joined out, integer-exact end to end
      graft.operators.Affinity.userTopNFromLift(sharedPairLift(s, d),
        rd(s, d, "lineitem"), rd(s, d, "orders"), k = 10, n = 5),
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "ic AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1), " +
        "pr AS (SELECT a.pk AS pk_a, b.pk AS pk_b, count(*) AS n_co FROM li a " +
        "JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "base AS (SELECT pk_a, pk_b, n_co, ia.n_item AS n_a, ib.n_item AS n_b " +
        "FROM pr JOIN ic ia ON ia.pk = pr.pk_a JOIN ic ib ON ib.pk = pr.pk_b), " +
        "dir AS (SELECT pk_a AS item, pk_b AS rec, n_co, n_a AS n_i, n_b AS n_r FROM base " +
        "UNION ALL SELECT pk_b, pk_a, n_co, n_b, n_a FROM base), " +
        "sc AS (SELECT item, rec, " +
        "CAST(1000000::HUGEINT * n_co * n_co // (n_i::HUGEINT * n_r) AS BIGINT) AS cos2_ppm FROM dir), " +
        "rk AS (SELECT item, rec, cos2_ppm FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY item ORDER BY cos2_ppm DESC, rec) AS rnk FROM sc) " +
        "WHERE rnk <= 10), " +
        "bought AS (SELECT DISTINCT o.o_custkey AS cust, li.pk AS item " +
        "FROM li JOIN orders o ON o.o_orderkey = li.ok), " +
        "sc2 AS (SELECT b.cust, r.rec, CAST(sum(r.cos2_ppm) AS BIGINT) AS score_ppm, " +
        "count(*) AS n_sources FROM bought b JOIN rk r ON r.item = b.item GROUP BY 1, 2), " +
        "fresh AS (SELECT s.* FROM sc2 s LEFT JOIN bought b2 " +
        "ON b2.cust = s.cust AND b2.item = s.rec WHERE b2.item IS NULL) " +
        "SELECT cust, CAST(rnk AS INT) AS rnk, rec, score_ppm, n_sources FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY cust ORDER BY score_ppm DESC, rec) AS rnk FROM fresh) " +
        "WHERE rnk <= 5")),
    Gate("stat_chi2_cells", (s, d) =>
      // chi-squared independence, per-cell contributions (no
      // cross-row double sum), priority x status contingency
      Stats.chi2Cells(rd(s, d, "orders"), "o_orderpriority", "o_orderstatus"),
      Stats.chi2CellsSql("orders", "o_orderpriority", "o_orderstatus")),
    Gate("events_attribution_linear", (s, d) =>
      // multi-touch credit: equal ppm split across all prior touches
      Events.linearAttribution(rd(s, d, "events"),
        touches = Seq("view", "click"), conversion = "purchase"),
      ("WITH u AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE event_type IN ('view', 'click', 'purchase')), " +
        "w AS (SELECT *, CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER win AS BIGINT) AS nv, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER win AS BIGINT) AS nc " +
        "FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "p AS (SELECT coalesce(nv, 0) AS nv, coalesce(nc, 0) AS nc, coalesce(nv, 0) + coalesce(nc, 0) AS tot FROM w " +
        "WHERE event_type = 'purchase') " +
        "SELECT 'view' AS channel, CAST(sum(CASE WHEN tot > 0 THEN 1000000 * nv // tot ELSE 0 END) AS BIGINT) AS credit_ppm FROM p " +
        "UNION ALL SELECT 'click', CAST(sum(CASE WHEN tot > 0 THEN 1000000 * nc // tot ELSE 0 END) AS BIGINT) FROM p " +
        "UNION ALL SELECT 'direct', CAST(sum(CASE WHEN tot = 0 THEN 1000000 ELSE 0 END) AS BIGINT) FROM p")),
    Gate("events_attribution", (s, d) =>
      // last-touch revenue attribution: as-of pattern as one per-user
      // ordered window, cents-exact revenue per channel
      Events.lastTouchAttribution(rd(s, d, "events"),
        touches = Seq("view", "click"), conversion = "purchase"),
      ("WITH u AS (SELECT user_id, ts, event_id, event_type, value, " +
        "CASE WHEN event_type IN ('view', 'click') THEN event_type END AS touch " +
        "FROM events WHERE event_type IN ('view', 'click', 'purchase')), " +
        "w AS (SELECT event_type, value, last_value(touch IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel FROM u) " +
        "SELECT coalesce(channel, 'direct') AS channel, count(*) AS n_conversions, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_c " +
        "FROM w WHERE event_type = 'purchase' GROUP BY 1")),
    Gate("events_attribution_decay", (s, d) =>
      // half-life credit: day-grain 2^(H-1-dd) decay weights keep the
      // ledger integer-exact; touch counts fold before the ×H horizon
      // explode, so raw events are scanned once
      Events.decayAttribution(rd(s, d, "events"),
        touches = Seq("view", "click"), conversion = "purchase",
        horizonDays = 14),
      // independent formulation: per-(conversion, touch) PAIR join over
      // the 14-day horizon with per-pair weights — first principles, not
      // a replay of the pre-aggregated horizon explode
      ("WITH t AS (SELECT user_id, CAST(ts AS DATE) AS td, event_type AS ch " +
        "FROM events WHERE event_type IN ('view', 'click')), " +
        "conv AS (SELECT user_id, CAST(ts AS DATE) AS cd, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "pw AS (SELECT c.user_id, c.cd, t.ch, " +
        "CAST(1 AS BIGINT) << CAST(13 - (c.cd - t.td) AS INT) AS w " +
        "FROM conv c JOIN t ON t.user_id = c.user_id " +
        "AND t.td <= c.cd AND t.td > c.cd - 14), " +
        "ws AS (SELECT user_id, cd, " +
        "CAST(sum(CASE WHEN ch = 'view' THEN w ELSE 0 END) AS BIGINT) AS wv, " +
        "CAST(sum(CASE WHEN ch = 'click' THEN w ELSE 0 END) AS BIGINT) AS wc " +
        "FROM pw GROUP BY 1, 2), " +
        "j AS (SELECT c.cents, coalesce(ws.wv, 0) AS wv, coalesce(ws.wc, 0) AS wc " +
        "FROM conv c LEFT JOIN ws ON c.user_id = ws.user_id AND c.cd = ws.cd) " +
        "SELECT 'view' AS channel, CAST(sum(CASE WHEN wv + wc > 0 " +
        "THEN cents * wv // (wv + wc) ELSE 0 END) AS BIGINT) AS credit_cents FROM j " +
        "UNION ALL SELECT 'click', CAST(sum(CASE WHEN wv + wc > 0 " +
        "THEN cents * wc // (wv + wc) ELSE 0 END) AS BIGINT) FROM j " +
        "UNION ALL SELECT 'direct', CAST(sum(CASE WHEN wv + wc = 0 " +
        "THEN cents ELSE 0 END) AS BIGINT) FROM j")),
    Gate("seq_rolling_spikes", (s, d) =>
      // trailing-week spike flags on the day-grain revenue series —
      // cross-multiplied integer z-test, zero floats end to end
      Stats.rollingIntegerZSpikes(rd(s, d, "orders")),
      Stats.rollingIntegerZSpikesSql("orders")),
    Gate("events_wau", (s, d) =>
      // rolling 7-day distinct actives per day, exact + combinable
      Events.rollingActiveUsers(rd(s, d, "events"), windowDays = 7),
      ("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "ex AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(CAST(d AS TIMESTAMP), " +
        "CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_day FROM ud) " +
        "SELECT w_day, count(*) AS wau FROM ex GROUP BY 1")),
    Gate("ab_ucb_alloc", (s, d) => {
      // derandomized bandit dashboard: user_id%4 variants as arms,
      // each user-variant exposure a pull rewarded by their high-value
      // purchase indicator; UCB1 bounds decide which arms a
      // successive-elimination policy retires and where the next pull
      // goes — adaptive allocation with zero randomness, so retries
      // and the oracle replay the identical decision
      val ev = rd(s, d, "events")
      val pulls = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") >= 90, 1L)
          .otherwise(0L)).as("reward"))
        .select((col("user_id") % 4).as("arm"), col("reward"))
      graft.operators.Stats.ucbAllocation(pulls, "arm", "reward")
    },
      graft.operators.Stats.ucbAllocationSql(
        "pulls AS (SELECT user_id % 4 AS arm, reward FROM " +
          "(SELECT user_id, max(CASE WHEN event_type = 'purchase' AND value >= 90 " +
          "THEN 1 ELSE 0 END) AS reward FROM events GROUP BY 1))")),
    Gate("ab_fdr_bh", (s, d) => {
      // multiple-testing control for the metric battery: per
      // event_type, HIGH-VALUE-reached-users (any event of that type
      // with value >= 90) two-proportion z between the
      // user_id%2 arms, two-sided p from the Abramowitz–Stegun normal
      // tail (elementary ops — both engines evaluate the identical
      // polynomial), then Benjamini–Hochberg step-up at q = 10%. Naive
      // per-metric 5% on m metrics false-alarms at ~1−0.95^m; BH
      // bounds the expected false-discovery rate — the gate every
      // experiment readout needs before celebrating a significant
      // metric. The battery is metadata-sized (one row per metric), so
      // the global BH windows are bounded by the metric count.
      val ev = rd(s, d, "events")
      val av = ev.select(col("user_id"), (col("user_id") % 2).as("arm")).distinct()
      val nw = av.groupBy("arm").agg(count(lit(1)).as("n"))
        .agg(max(when(col("arm") === 0, col("n"))).as("n0"),
          max(when(col("arm") === 1, col("n"))).as("n1"))
      val cv = ev.where(col("value") >= 90)
        .select(col("event_type"), col("user_id"),
          (col("user_id") % 2).as("arm")).distinct()
        .groupBy("event_type", "arm").agg(count(lit(1)).as("conv"))
      val wd = cv.groupBy("event_type").agg(
        coalesce(max(when(col("arm") === 0, col("conv"))), lit(0L)).as("c0"),
        coalesce(max(when(col("arm") === 1, col("conv"))), lit(0L)).as("c1"))
      val n0d = col("n0").cast("double"); val n1d = col("n1").cast("double")
      val p0 = col("c0").cast("double") / n0d
      val p1 = col("c1").cast("double") / n1d
      val pp = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val zt = wd.crossJoin(nw)
        // degenerate metrics (nobody or everybody reached) have no
        // defined z — excluded identically on both sides
        .where((col("c0") + col("c1")) > 0 &&
          (col("c0") + col("c1")) < (col("n0") + col("n1")))
        .select(col("event_type").as("metric"),
          ((p1 - p0) / sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / n0d + lit(1.0) / n1d))).as("z"))
      graft.operators.Stats.fdrBh(
        zt.withColumn("p", graft.operators.Stats.twoSidedP(col("z"))),
        "metric", "p", qPpm = 100000L)
    },
      {
        val p0 = "(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
        val p1 = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        val pp = "(CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))"
        graft.operators.Stats.fdrBhSql(
          "av AS (SELECT DISTINCT user_id, user_id % 2 AS arm FROM events), " +
            "nw AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n0, " +
            "max(CASE WHEN arm = 1 THEN n END) AS n1 " +
            "FROM (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM av GROUP BY 1)), " +
            "cu AS (SELECT DISTINCT event_type, user_id, user_id % 2 AS arm FROM events WHERE value >= 90), " +
            "cv AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS conv FROM cu GROUP BY 1, 2), " +
            "wd AS (SELECT event_type AS metric, " +
            "coalesce(max(CASE WHEN arm = 0 THEN conv END), 0) AS c0, " +
            "coalesce(max(CASE WHEN arm = 1 THEN conv END), 0) AS c1 FROM cv GROUP BY 1), " +
            s"zt AS (SELECT metric, (($p1 - $p0) / sqrt($pp * (1.0 - $pp) * " +
            "(1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))) AS z " +
            "FROM wd CROSS JOIN nw " +
            "WHERE (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1)), " +
            s"pv AS (SELECT metric, z, ${graft.operators.Stats.twoSidedPSql("z")} AS p FROM zt)",
          keyCol = "metric", carry = Seq("z"), qPpm = 100000L)
      }),
    Gate("ab_cuped", (s, d) => {
      // CUPED variance-reduced A/B readout: pre-period spend is the
      // covariate, theta = cov(x,y)/var(x) from EXACT integer moments,
      // and the adjusted arm mean is computed from ARM-LEVEL exact
      // sums (mean_y - theta*(mean_x - global mean_x)) — never a sum
      // of per-user adjusted doubles, which would re-introduce
      // accumulation order
      val ev = rd(s, d, "events")
      val cut = tlit("2024-01-16 00:00:00")
      val spend = (p: Column) => sum(when(p, round(col("value") * 100).cast("long"))
        .otherwise(0L))
      val perUser = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(spend(col("ts") < cut).as("x"), spend(col("ts") >= cut).as("y"))
      val users = Sampling.hashSplit(
        ev.select(col("user_id")).distinct(), "user_id", "ab1", abArms, "arm")
        .join(perUser, Seq("user_id"), "left")
        .select(col("arm"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val g = users.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      val arms = users.groupBy("arm")
        .agg(count(lit(1)).as("n_a"), sum("x").as("sx_a"), sum("y").as("sy_a"))
      val theta = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      arms.crossJoin(broadcast(g))
        .select(col("arm"), col("n_a"), col("sx_a"), col("sy_a"),
          theta.as("theta"),
          (col("sy_a").cast("double") / col("n_a").cast("double")).as("mean_raw"),
          (col("sy_a").cast("double") / col("n_a").cast("double") -
            theta * (col("sx_a").cast("double") / col("n_a").cast("double") -
              col("sx").cast("double") / col("n").cast("double"))).as("mean_adj"))
    },
      (s"WITH pu AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x, " +
        "CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        s"u AS (SELECT du.user_id, ${OracleSql.hashSplitCase("CAST(du.user_id AS VARCHAR)", "ab1", abArms)} AS arm, " +
        "coalesce(pu.x, 0) AS x, coalesce(pu.y, 0) AS y " +
        "FROM (SELECT DISTINCT user_id FROM events) du LEFT JOIN pu ON pu.user_id = du.user_id), " +
        "g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy FROM u), " +
        "a AS (SELECT arm, count(*) AS n_a, CAST(sum(x) AS BIGINT) AS sx_a, CAST(sum(y) AS BIGINT) AS sy_a FROM u GROUP BY 1) " +
        "SELECT arm, n_a, sx_a, sy_a, " +
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta, " +
        "CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_raw, " +
        "CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) - " +
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * " +
        "(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_adj " +
        "FROM a CROSS JOIN g")),
    Gate("seq_seasonal_naive", (s, d) => {
      // forecast backtest: same-weekday-last-week naive on the daily
      // revenue series, MAE/MAPE entirely in integer arithmetic (the
      // per-day APE divides non-negatives); the series is
      // calendar-bounded so the lag window is metadata-scale
      val daily = rd(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("x", expr("cents div 100"))
      val w = Window.orderBy("dt")
      daily.withColumn("f", lag(col("x"), 7).over(w))
        .filter(col("f").isNotNull && col("x") > 0)
        .withColumn("abs_err", abs(col("x") - col("f")))
        .agg(count(lit(1)).as("n_days"),
          sum("abs_err").as("sum_abs_err"),
          sum(expr("1000000 * abs_err div x")).as("sum_ape_ppm"))
        .select(col("n_days"),
          col("sum_abs_err"),
          expr("sum_abs_err div n_days").as("mae_dollars"),
          expr("sum_ape_ppm div n_days").as("mape_ppm"))
    },
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM orders GROUP BY 1), " +
        "l AS (SELECT dt, cents // 100 AS x, lag(cents // 100, 7) OVER (ORDER BY dt) AS f FROM daily), " +
        "e AS (SELECT x, f, abs(x - f) AS abs_err FROM l WHERE f IS NOT NULL AND x > 0) " +
        "SELECT count(*) AS n_days, CAST(sum(abs_err) AS BIGINT) AS sum_abs_err, " +
        "CAST(sum(abs_err) AS BIGINT) // count(*) AS mae_dollars, " +
        "CAST(sum(1000000 * abs_err // x) AS BIGINT) // count(*) AS mape_ppm FROM e")),
    Gate("graph_components", (s, d) =>
      // explicit connected components over the co-purchase graph
      // (parts sharing >= 2 baskets) — large-star/small-star
      // contraction (O(log n) rounds on any topology; dedupClusters'
      // min-label propagation stays on the dedup path where diameter
      // is ≤ 2)
      graft.operators.Graph.connectedComponents(
        sharedPairLift(s, d)
          .select(col("pk_a").as("src"), col("pk_b").as("dst")))
        .select(col("node").as("part_id"), col("component_id")),
      ("WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "pr AS (SELECT a.pk AS id_a, b.pk AS id_b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node) " +
        "SELECT node AS part_id, min(root) AS component_id FROM wlk GROUP BY node")),
    Gate("incr_components_maintain", (s, d) => {
      // O(delta) component-label maintenance under edge INSERTS: the
      // co-purchase edge set splits on a pair hash; labels built from
      // the "old" 6/7 of edges repair through the CONTRACTED delta
      // graph (super-nodes = current labels — delta-sized, never the
      // corpus) and must equal the full rebuild. Min-labels compose,
      // so the repair is exact, not approximate.
      val li = rd(s, d, "lineitem")
      val edges = sharedPairLift(s, d)
        .select(col("pk_a").as("src"), col("pk_b").as("dst"))
      val old = edges.where((col("src") + col("dst")) % 7 =!= 0)
      val delta = edges.where((col("src") + col("dst")) % 7 === 0)
      // yesterday's labels are a MATERIALIZED table in production —
      // content-addressed here so the gate times the repair, not the
      // one-off bootstrap contraction
      val (dir, tbl) = Artifacts.table(s, d, "cc_labels", li, "l_orderkey")(_ =>
        graft.operators.Graph.connectedComponents(old))
      graft.operators.Graph.maintainComponents(
        graft.sources.Warehouse.read(s, dir, tbl), delta)
        .select(col("node").as("part_id"), col("component_id"))
    },
      // the maintained labels must equal the full rebuild's closure
      ("WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "pr AS (SELECT a.pk AS id_a, b.pk AS id_b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr), " +
        "wlk(node, root) AS (SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, k.root FROM wlk k JOIN edges e ON e.src = k.node) " +
        "SELECT node AS part_id, min(root) AS component_id FROM wlk GROUP BY node")),
    Gate("incr_wau_maintain", (s, d) => {
      // O(delta) WAU maintenance: the user-day set is append-only, so
      // the delta batch anti-joins against the seed and unions in —
      // the aggregate then matches a full recompute bit-for-bit (the
      // events_wau oracle IS this query's oracle)
      val ev = rd(s, d, "events")
      val cut = tlit("2024-01-20 00:00:00")
      val ud = (p: Column) => ev.filter(p)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val seed = ud(col("ts") < cut)
      val delta = ud(col("ts") >= cut).join(seed, Seq("user_id", "d"), "left_anti")
      Events.rollingActiveFromUserDays(seed.unionByName(delta), windowDays = 7)
    },
      ("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "ex AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(CAST(d AS TIMESTAMP), " +
        "CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_day FROM ud) " +
        "SELECT w_day, count(*) AS wau FROM ex GROUP BY 1")),
    Gate("pipeline_kpi_daily", (s, d) => {
      // composition flagship: the daily KPI mart — volume, actives
      // (DAU/WAU/stickiness), session counts + bounce share, purchase
      // revenue — assembled from the SAME operators their standalone
      // gates run, joined on the day grain (calendar-bounded), so the
      // mart cannot disagree with the metrics it summarizes
      val ev = rd(s, d, "events")
      val vol = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)).as("revenue_c"))
      val dau = Events.rollingActiveUsers(ev, 1).withColumnRenamed("wau", "dau")
      val wau = Events.rollingActiveUsers(ev, 7)
      val sess = Events.sessionize(ev)
        .groupBy(to_date(col("session_start")).as("d"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
      vol
        .join(dau.withColumnRenamed("w_day", "d"), Seq("d"))
        .join(wau.withColumnRenamed("w_day", "d"), Seq("d"))
        .join(sess, Seq("d"))
        .withColumn("stickiness_ppm", expr("1000000 * dau div wau"))
        .withColumn("bounce_ppm", expr("1000000 * n_bounce div n_sessions"))
    },
      ("WITH vol AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n_events, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS revenue_c " +
        "FROM events GROUP BY 1), " +
        "ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1), " +
        "ex AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(CAST(d AS TIMESTAMP), " +
        "CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_day FROM ud), " +
        "wau AS (SELECT w_day AS d, count(*) AS wau FROM ex GROUP BY 1), " +
        "oo AS (SELECT user_id, event_id, ts, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS brk FROM events), " +
        "ss AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM oo), " +
        "sg AS (SELECT user_id, session_id, min(ts) AS session_start, count(*) AS n_ev FROM ss GROUP BY 1, 2), " +
        "sess AS (SELECT CAST(session_start AS DATE) AS d, count(*) AS n_sessions, " +
        "CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce FROM sg GROUP BY 1) " +
        "SELECT v.d, v.n_events, v.n_purchases, v.revenue_c, a.dau, w.wau, " +
        "s.n_sessions, s.n_bounce, 1000000 * a.dau // w.wau AS stickiness_ppm, " +
        "1000000 * s.n_bounce // s.n_sessions AS bounce_ppm " +
        "FROM vol v JOIN dau a ON a.d = v.d JOIN wau w ON w.d = v.d JOIN sess s ON s.d = v.d")),
    Gate("events_session_duration", (s, d) => {
      // dwell-time distribution over the sessionizer's output: integer
      // second durations, exact discrete percentiles over the
      // session-grain table (sessions ≪ events)
      val sess = Events.sessionize(rd(s, d, "events"))
        .select(expr("(unix_micros(session_end) - unix_micros(session_start)) div 1000000")
          .as("dur_s"))
      val v = Views.unique("sess_dur")
      sess.createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT count(*) AS n_sessions, max(dur_s) AS max_s, " +
          "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_s) AS BIGINT) AS p50_s, " +
          s"CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dur_s) AS BIGINT) AS p90_s FROM $v")
      s.catalog.dropTempView(v)
      out
    },
      ("WITH o AS (SELECT user_id, event_id, ts, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM o), " +
        "sess AS (SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur_s " +
        "FROM s GROUP BY user_id, session_id) " +
        "SELECT count(*) AS n_sessions, max(dur_s) AS max_s, " +
        "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_s) AS BIGINT) AS p50_s, " +
        "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dur_s) AS BIGINT) AS p90_s FROM sess")),
    Gate("events_path_conversion", (s, d) => {
      // conversion by opening journey: users grouped by their first-3
      // path; converted = any purchase strictly after the third event
      // (rn > 3 in the same total order); rates on the ppm grid
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ranked = rd(s, d, "events")
        .withColumn("rn", row_number().over(w))
      val paths = ranked.filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(count(lit(1)).as("__np"),
          expr("concat_ws('>', transform(array_sort(" +
            "collect_list(struct(rn, event_type))), x -> x.event_type))").as("path"))
        .filter(col("__np") === 3)
      val conv = ranked
        .groupBy("user_id")
        .agg(max(when(col("rn") > 3 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
      paths.join(conv, "user_id")
        .groupBy("path")
        .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
        .withColumn("conv_ppm", expr("1000000 * n_conv div n_users"))
    },
      ("WITH r AS (SELECT user_id, event_type, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), " +
        "p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path, count(*) AS np " +
        "FROM r WHERE rn <= 3 GROUP BY user_id), " +
        "c AS (SELECT user_id, CAST(max(CASE WHEN rn > 3 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted " +
        "FROM r GROUP BY user_id) " +
        "SELECT path, count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_conv, " +
        "1000000 * CAST(sum(converted) AS BIGINT) // count(*) AS conv_ppm " +
        "FROM p JOIN c ON c.user_id = p.user_id WHERE np = 3 GROUP BY path")),
    Gate("events_bounce_rate", (s, d) =>
      // single-event-session share per day — the product bounce
      // metric, composed from the SAME sessionizer e3 gates
      Events.sessionize(rd(s, d, "events"))
        .groupBy(to_date(col("session_start")).as("d"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .withColumn("bounce_ppm", expr("1000000 * n_bounce div n_sessions")),
      ("WITH o AS (SELECT user_id, event_id, ts, CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM o), " +
        "sess AS (SELECT user_id, session_id, min(ts) AS session_start, count(*) AS n_events " +
        "FROM s GROUP BY 1, 2) " +
        "SELECT CAST(session_start AS DATE) AS d, count(*) AS n_sessions, " +
        "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce, " +
        "1000000 * CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS bounce_ppm " +
        "FROM sess GROUP BY 1")),
    Gate("orders_reorder_gap", (s, d) => {
      // reorder-latency distribution: per-customer day gaps between
      // consecutive orders (lead over the customer history), exact
      // discrete percentiles over the gap table
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = rd(s, d, "orders")
        .withColumn("__next", lead(col("o_orderdate"), 1).over(w))
        .filter(col("__next").isNotNull)
        .select(datediff(to_date(col("__next")), to_date(col("o_orderdate")))
          .cast("long").as("gap_days"))
      val v = Views.unique("reorder_gaps")
      gaps.createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT count(*) AS n_gaps, min(gap_days) AS min_d, max(gap_days) AS max_d, " +
          "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days) AS BIGINT) AS p50_d, " +
          s"CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_days) AS BIGINT) AS p90_d FROM $v")
      s.catalog.dropTempView(v)
      out
    },
      ("WITH g AS (SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(lead(o_orderdate) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE)) AS gap_days FROM orders), " +
        "f AS (SELECT CAST(gap_days AS BIGINT) AS gap_days FROM g WHERE gap_days IS NOT NULL) " +
        "SELECT count(*) AS n_gaps, min(gap_days) AS min_d, max(gap_days) AS max_d, " +
        "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days) AS BIGINT) AS p50_d, " +
        "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_days) AS BIGINT) AS p90_d FROM f")),
    Gate("q_skyline_2d", (s, d) => {
      // 2-D skyline (cheapest-price / largest-size Pareto front) via
      // the generalized range-partitioned prefix fold: exclusive
      // running MAX of size over the (price, key) total order — a part
      // survives iff its size strictly exceeds every lexicographically
      // earlier (i.e. no-more-expensive) part's. Same distribution
      // story as pareto_abc: no unpartitioned window, ever
      val p = rd(s, d, "part").select(col("p_partkey"),
        col("p_retailprice"), col("p_size").cast("long").as("sz"))
      Stats.rangePrefixFold(p,
        Seq(col("p_retailprice").asc, col("p_partkey").asc),
        "sz", "max_before", Long.MinValue, math.max, exclusive = true)
        .filter(col("sz") > col("max_before"))
        .select(col("p_partkey"), col("p_retailprice"), col("sz").as("p_size"))
    },
      ("WITH o AS (SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS sz, " +
        "coalesce(max(CAST(p_size AS BIGINT)) OVER (ORDER BY p_retailprice, p_partkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808) AS mb FROM part) " +
        "SELECT p_partkey, p_retailprice, sz AS p_size FROM o WHERE sz > mb")),
    Gate("dq_quarantine", (s, d) => {
      // row routing: orders with injected defects (%13 negated price,
      // %17 out-of-domain status) flow through the constraint set;
      // failing rows emit with their comma-joined reasons, clean rows
      // never appear — zero-shuffle projection + filter
      val o = rd(s, d, "orders")
      val mixed = o
        .unionByName(o.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_totalprice", -col("o_totalprice")))
        .unionByName(o.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderstatus", lit("X")))
      graft.operators.Quality.quarantine(mixed, Seq(
        "price_non_negative" -> (col("o_totalprice") >= 0),
        "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P")))
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "fail_reasons")
    },
      ("WITH mixed AS (SELECT * FROM orders " +
        "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, -o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 13 = 0 " +
        "UNION ALL SELECT o_orderkey, o_custkey, 'X', o_totalprice, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 17 = 0), " +
        "q AS (SELECT o_orderkey, o_totalprice, o_orderstatus, " +
        "concat_ws(',', CASE WHEN NOT coalesce(o_totalprice >= 0, FALSE) THEN 'price_non_negative' END, " +
        "CASE WHEN NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 'status_in_domain' END) AS fail_reasons " +
        "FROM mixed) SELECT * FROM q WHERE fail_reasons <> ''")),
    Gate("dp_randomized_response", (s, d) => {
      // privacy tier: classic 1/2-truth randomized response over "did
      // the user make a high-value purchase", with BOTH coins drawn
      // from the portable salt+user hash grid — deterministic,
      // engine-replayable, and the debiased estimate (4·noisy − n, in
      // halves) stays exact integer arithmetic
      val ev = rd(s, d, "events")
      val users = ev.select(col("user_id")).distinct()
      val truth = ev.filter(col("event_type") === "purchase" && col("value") >= 90)
        .select(col("user_id")).distinct().withColumn("__t", lit(true))
      val coins = Sampling.hashSplit(
        Sampling.hashSplit(
          Sampling.hashSplit(users, "user_id", "ab1", abArms, "arm"),
          "user_id", "rr1", abArms, "coin1"),
        "user_id", "rr2", abArms, "coin2")
      coins.join(truth, Seq("user_id"), "left")
        .withColumn("report_yes",
          when(col("coin1") === "a", coalesce(col("__t"), lit(false)))
            .otherwise(col("coin2") === "a"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n"),
          sum(col("report_yes").cast("long")).as("noisy_yes"),
          sum(coalesce(col("__t"), lit(false)).cast("long")).as("true_yes"))
        .withColumn("est_x2", lit(4) * col("noisy_yes") - col("n"))
    },
      (s"WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "t AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value >= 90), " +
        s"c AS (SELECT u.user_id, ${OracleSql.hashSplitCase("CAST(u.user_id AS VARCHAR)", "ab1", abArms)} AS arm, " +
        s"${OracleSql.hashSplitCase("CAST(u.user_id AS VARCHAR)", "rr1", abArms)} AS coin1, " +
        s"${OracleSql.hashSplitCase("CAST(u.user_id AS VARCHAR)", "rr2", abArms)} AS coin2, " +
        "(t.user_id IS NOT NULL) AS tr FROM u LEFT JOIN t ON t.user_id = u.user_id), " +
        "r AS (SELECT arm, CASE WHEN coin1 = 'a' THEN tr ELSE coin2 = 'a' END AS report_yes, tr FROM c) " +
        "SELECT arm, count(*) AS n, CAST(sum(CASE WHEN report_yes THEN 1 ELSE 0 END) AS BIGINT) AS noisy_yes, " +
        "CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS true_yes, " +
        "4 * CAST(sum(CASE WHEN report_yes THEN 1 ELSE 0 END) AS BIGINT) - count(*) AS est_x2 " +
        "FROM r GROUP BY arm")),
    Gate("q16_supplier_cnt", (s, d) =>
      // TPC-H Q16 shape (partsupp dissolved through the fact):
      // distinct supplier counts per part descriptor
      rd(s, d, "lineitem")
        .join(rd(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt")),
      ("SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2, 3")),
    Gate("q18_large_orders", (s, d) => {
      // TPC-H Q18 shape: volume orders (total quantity > 250, the
      // ~99th percentile here) joined back to their customers; the
      // HAVING runs on the combinable per-order aggregate
      val l = rd(s, d, "lineitem"); val o = rd(s, d, "orders")
      val c = rd(s, d, "customer")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("sum_qty"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    },
      ("WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY 1 HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) > 250) " +
        "SELECT c_custkey, c_name, o_orderkey, o_orderdate, sum_qty, " +
        "round(o_totalprice, 2) AS o_totalprice " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey")),
    Gate("q19_disjunctive", (s, d) => {
      // TPC-H Q19 shape: OR-of-ANDs brand/size/quantity predicate —
      // the disjunction must still reach the scans as a pushed filter
      // band, not a post-join residual-only plan
      val l = rd(s, d, "lineitem"); val p = rd(s, d, "part")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
              col("l_quantity").between(10, 35)))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    },
      ("SELECT count(*) AS n_lines, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)")),
    Gate("q22_idle_rich", (s, d) => {
      // TPC-H Q22 shape: above-average-balance customers with no
      // RECENT orders — the average comparison cross-multiplies exact
      // cents (bc*n > sum), the recency test is a broadcast-able anti
      // join on the distinct recent-customer set
      val c = rd(s, d, "customer"); val o = rd(s, d, "orders")
      val pos = c.filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("bc"))
      val g = pos.agg(count(lit(1)).as("n_pos"), sum("bc").as("sum_pos"))
      val recent = o.filter(col("o_orderdate") >= tlit("2001-01-01 00:00:00"))
        .select(col("o_custkey")).distinct()
      pos.crossJoin(broadcast(g))
        .where(col("bc") * col("n_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"), sum("bc").as("sum_bal_c"))
    },
      ("WITH pos AS (SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bc " +
        "FROM customer WHERE c_acctbal > 0), " +
        "g AS (SELECT count(*) AS n_pos, CAST(sum(bc) AS BIGINT) AS sum_pos FROM pos), " +
        "rec AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') " +
        "SELECT c_nationkey, count(*) AS n_customers, CAST(sum(bc) AS BIGINT) AS sum_bal_c " +
        "FROM pos CROSS JOIN g WHERE bc * n_pos > sum_pos " +
        "AND c_custkey NOT IN (SELECT o_custkey FROM rec) GROUP BY 1")),
    Gate("q10_returned", (s, d) => {
      // TPC-H Q10 shape: revenue lost to returns per customer and
      // nation — returned lines only, nation broadcast, revenue in
      // the round(sum,4) discipline; full deterministic set (no
      // LIMIT, so no order-dependence in the gate)
      val l = rd(s, d, "lineitem"); val o = rd(s, d, "orders")
      val c = rd(s, d, "customer"); val n = rd(s, d, "nation")
      l.filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    },
      ("SELECT c_custkey, c_name, n_name, count(*) AS n_lines, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' GROUP BY 1, 2, 3")),
    Gate("events_new_vs_returning", (s, d) => {
      // daily active split into new (first-ever day) vs returning —
      // one keyed min per user, one distinct user-day set, the split
      // is an equality against the broadcast-joinable first-day table
      val ev = rd(s, d, "events")
      val firstD = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("first_d"))
      ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .join(firstD, "user_id")
        .groupBy("d")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("d") === col("first_d"), 1L).otherwise(0L)).as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
    },
      ("WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_d FROM events GROUP BY 1), " +
        "ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events) " +
        "SELECT d, count(*) AS n_active, " +
        "CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
        "count(*) - CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT) AS n_returning " +
        "FROM ud JOIN f ON f.user_id = ud.user_id GROUP BY d")),
    Gate("events_heatmap", (s, d) =>
      // activity heatmap: day-of-week x hour-of-day counts — Spark's
      // dayofweek is 1=Sunday, DuckDB's dow is 0=Sunday; both sides
      // emit the 0-based convention explicitly
      rd(s, d, "events")
        .groupBy((dayofweek(col("ts")) - 1).as("dow"),
          hour(col("ts")).as("hod"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_c")),
      ("SELECT CAST(date_part('dow', ts) AS INT) AS dow, CAST(date_part('hour', ts) AS INT) AS hod, " +
        "count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c " +
        "FROM events GROUP BY 1, 2")),
    Gate("orders_seasonality", (s, d) => {
      // month-of-year revenue profile with ppm share of the annual
      // total — 12 rows whatever the data size
      val m = rd(s, d, "orders")
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      m.crossJoin(broadcast(m.agg(sum("rev_c").as("tot_c"))))
        .withColumn("share_ppm", expr("1000000 * rev_c div tot_c"))
        .drop("tot_c")
    },
      ("WITH m AS (SELECT CAST(month(o_orderdate) AS INT) AS mo, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1), " +
        "t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tot_c FROM m) " +
        "SELECT mo, n_orders, rev_c, 1000000 * rev_c // tot_c AS share_ppm FROM m CROSS JOIN t")),
    Gate("user_ltv_percentiles", (s, d) => {
      // lifetime-value distribution: exact discrete percentiles over
      // the per-user purchase-cents table (user-dimension-sized)
      val ltv = rd(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("ltv_c"))
      val v = Views.unique("ltv")
      ltv.createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT count(*) AS n_users, min(ltv_c) AS min_c, max(ltv_c) AS max_c, " +
          "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ltv_c) AS BIGINT) AS p50_c, " +
          s"CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY ltv_c) AS BIGINT) AS p90_c FROM $v")
      s.catalog.dropTempView(v)
      out
    },
      ("WITH ltv AS (SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ltv_c " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1) " +
        "SELECT count(*) AS n_users, min(ltv_c) AS min_c, max(ltv_c) AS max_c, " +
        "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ltv_c) AS BIGINT) AS p50_c, " +
        "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY ltv_c) AS BIGINT) AS p90_c FROM ltv")),
    Gate("q21_sole_blame", (s, d) => {
      // TPC-H Q21 shape: suppliers solely responsible for a late
      // order — the EXISTS dissolves into the distinct late set, the
      // NOT EXISTS into a self anti-join on (same order, OTHER
      // supplier); counts fold per supplier
      val o = rd(s, d, "orders"); val l = rd(s, d, "lineitem")
      val late = l.join(o,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > to_timestamp(date_add(to_date(col("o_orderdate")), 90)))
        .select(col("o_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
      late.join(late.toDF("ok2", "sk2"),
        col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_anti")
        .groupBy(col("sk").as("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
    },
      ("WITH late AS (SELECT DISTINCT o_orderkey AS ok, l_suppkey AS sk FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate > CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS TIMESTAMP)) " +
        "SELECT sk AS l_suppkey, count(*) AS numwait FROM late a " +
        "WHERE NOT EXISTS (SELECT 1 FROM late b WHERE b.ok = a.ok AND b.sk <> a.sk) GROUP BY 1")),
    Gate("funnel_bounded", (s, d) =>
      // time-bounded funnel: each stage must land within 24h of the
      // previous stage's first hit — the attribution-window semantics
      // real product funnels carry
      Events.funnel(rd(s, d, "events"), Seq("view", "click", "purchase"),
        maxGapHours = Some(24))
        .agg(count(lit(1)).as("n_entered"),
          count(col("t_click")).as("n_clicked"),
          count(col("t_purchase")).as("n_purchased")),
      ("WITH v AS (SELECT user_id, min(ts) AS tv FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e JOIN v ON v.user_id = e.user_id " +
        "AND e.ts > v.tv AND e.ts <= v.tv + INTERVAL 24 HOUR WHERE e.event_type = 'click' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e JOIN c ON c.user_id = e.user_id " +
        "AND e.ts > c.tc AND e.ts <= c.tc + INTERVAL 24 HOUR WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT count(*) AS n_entered, (SELECT count(*) FROM c) AS n_clicked, " +
        "(SELECT count(*) FROM p) AS n_purchased FROM v")),
    Gate("q4_priority_late", (s, d) => {
      // TPC-H Q4 shape: order counts per priority where ANY line
      // shipped more than 60 days after the order date — the EXISTS
      // is a left-semi join with the cross-table predicate riding the
      // join condition (one pass, no distinct-then-join)
      val o = rd(s, d, "orders"); val l = rd(s, d, "lineitem")
      o.join(l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > to_timestamp(date_add(to_date(col("o_orderdate")), 60)),
        "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > CAST(CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY AS TIMESTAMP)) " +
        "GROUP BY 1")),
    Gate("q13_custdist", (s, d) => {
      // TPC-H Q13 shape: customer distribution by order count, zero
      // bucket included via the left join; both aggregations combinable
      val c = rd(s, d, "customer"); val o = rd(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      ("WITH cc AS (SELECT c_custkey, count(o_orderkey) AS c_count FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1) " +
        "SELECT c_count, count(*) AS custdist FROM cc GROUP BY 1")),
    Gate("q14_promo_share", (s, d) => {
      // TPC-H Q14 shape: promo revenue share per month on the ppm
      // grid — monthly e4-exact sums, one integer division at the end
      val l = rd(s, d, "lineitem"); val p = rd(s, d, "part")
      val cents = (c: Column) => round(c * 100).cast("long")
      val e4 = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
        .agg(sum(when(col("p_type") === "PROMO", e4).otherwise(0L)).as("promo_e4"),
          sum(e4).as("total_e4"))
        .withColumn("promo_ppm", expr("1000000 * promo_e4 div total_e4"))
    },
      ("WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS mon, " +
        "CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_e4, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_e4 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1) " +
        "SELECT mon, promo_e4, total_e4, 1000000 * promo_e4 // total_e4 AS promo_ppm FROM m")),
    Gate("q12_late_lines", (s, d) => {
      // TPC-H Q12 shape (adapted: no shipmode/commitdate in this
      // schema): lines shipped late (> 30 days after order) in 1997,
      // grouped by line status with conditional priority counts — the
      // join + CASE-conditional aggregation plan, date arithmetic
      // crossing the two tables
      val l = rd(s, d, "lineitem"); val o = rd(s, d, "orders")
      val hiPri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > to_timestamp(date_add(to_date(col("o_orderdate")), 30)) &&
          col("l_shipdate").between(
            tlit("1997-01-01 00:00:00"), tlit("1997-12-31 23:59:59")))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hiPri, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hiPri, 0L).otherwise(1L)).as("low_line_count"))
    },
      ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate > CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) " +
        "AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59' " +
        "GROUP BY 1")),
    Gate("q2_min_cost_supp", (s, d) => {
      // TPC-H Q2 shape: per-part argmin against a correlated min-cost
      // subquery, decorrelated to ONE aggregate join-back — the
      // regional partsupp subtree is aggregated to per-part min cost
      // and joined back on (part, cost), never re-scanned per part.
      // partsupp is derived deterministically from lineitem (the
      // testdata ships no partsupp): min line price as supply cost,
      // total shipped quantity as availqty — both exact integers.
      val su = rd(s, d, "supplier"); val p = rd(s, d, "part")
      val n = rd(s, d, "nation"); val r = rd(s, d, "region")
      val rps = derivedPartSupp(rd(s, d, "lineitem"))
        .join(su, col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost_c"),
          col("s_name"), col("s_acctbal"), col("n_name"))
      val mc = rps.groupBy(col("ps_partkey").as("mk"))
        .agg(min("ps_supplycost_c").as("min_cost_c"))
      rps.join(mc, col("ps_partkey") === col("mk") &&
          col("ps_supplycost_c") === col("min_cost_c"))
        .join(p.filter(col("p_size") === 15),
          col("ps_partkey") === col("p_partkey"))
        .select(col("ps_partkey"), col("p_name"), col("ps_suppkey"),
          col("s_name"), col("n_name"), col("s_acctbal"), col("min_cost_c"))
    },
      (s"WITH $psCte, " +
        "rps AS (SELECT ps.*, s_name, s_acctbal, n_name FROM ps " +
        "JOIN supplier ON ps_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "mc AS (SELECT ps_partkey AS mk, min(ps_supplycost_c) AS min_cost_c FROM rps GROUP BY 1) " +
        "SELECT ps_partkey, p_name, ps_suppkey, s_name, n_name, s_acctbal, min_cost_c " +
        "FROM rps JOIN mc ON ps_partkey = mk AND ps_supplycost_c = min_cost_c " +
        "JOIN part ON ps_partkey = p_partkey WHERE p_size = 15")),
    Gate("q11_important_stock", (s, d) => {
      // TPC-H Q11 shape: GROUP BY ... HAVING against a GLOBAL scalar
      // subquery — per-part inventory value over three nations'
      // suppliers, kept only when 2000·value > total value (the
      // integer-exact form of value > total/2000). The scalar total is
      // a one-row broadcast; value accumulates in decimal(38,0)
      // (cost_c·qty sums past int64 at the 100 TB scale) and is
      // emitted as VARCHAR, the q9 discipline.
      val su = rd(s, d, "supplier"); val n = rd(s, d, "nation")
      val v = derivedPartSupp(rd(s, d, "lineitem"))
        .join(su, col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(n.filter(col("n_name").isin(
          "NATION_3", "NATION_7", "NATION_11"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum((col("ps_supplycost_c") * col("ps_availqty"))
          .cast("decimal(38,0)")).as("value_dec"))
      val tot = v.agg(sum(col("value_dec")).as("tot_dec"))
      v.crossJoin(broadcast(tot))
        .where(lit(2000) * col("value_dec") > col("tot_dec"))
        .select(col("ps_partkey"), col("value_dec").cast("string").as("value_c"))
    },
      (s"WITH $psCte, " +
        "v AS (SELECT ps_partkey, CAST(sum(CAST(ps_supplycost_c AS HUGEINT) * ps_availqty) AS HUGEINT) AS value_dec " +
        "FROM ps JOIN supplier ON ps_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11') GROUP BY 1), " +
        "t AS (SELECT CAST(sum(value_dec) AS HUGEINT) AS tot_dec FROM v) " +
        "SELECT ps_partkey, CAST(value_dec AS VARCHAR) AS value_c " +
        "FROM v CROSS JOIN t WHERE 2000 * value_dec > tot_dec")),
    Gate("q20_excess_stock", (s, d) => {
      // TPC-H Q20 shape: a semi-join whose right side is itself an
      // aggregated correlated subquery — suppliers holding excess
      // stock of bolt parts, where excess means availqty exceeds 8×
      // the 1997 shipped quantity for that (part, supplier). The 1997
      // aggregate joins back on the composite key once (decorrelated);
      // suppliers survive via left-semi, so each prints at most once.
      val l = rd(s, d, "lineitem"); val su = rd(s, d, "supplier")
      val n = rd(s, d, "nation"); val p = rd(s, d, "part")
      val yr = l.filter(col("l_shipdate").between(
          tlit("1997-01-01 00:00:00"), tlit("1997-12-31 23:59:59")))
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(sum(col("l_quantity").cast("long")).as("qty97"))
      val ex = derivedPartSupp(l)
        .join(yr, col("ps_partkey") === col("pk") && col("ps_suppkey") === col("sk"))
        .join(p.filter(col("p_name").like("%bolt%")),
          col("ps_partkey") === col("p_partkey"))
        .where(col("ps_availqty") > lit(8L) * col("qty97"))
        .select(col("ps_suppkey"))
      su.join(broadcast(n.filter(col("n_name").isin(
          (0 to 7).map(i => s"NATION_$i"): _*))),
          col("s_nationkey") === col("n_nationkey"))
        .join(ex, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    },
      (s"WITH $psCte, " +
        "yr AS (SELECT l_partkey AS pk, l_suppkey AS sk, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty97 FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate <= TIMESTAMP '1997-12-31 23:59:59' GROUP BY 1, 2), " +
        "ex AS (SELECT ps_suppkey FROM ps " +
        "JOIN yr ON ps_partkey = pk AND ps_suppkey = sk " +
        "JOIN part ON ps_partkey = p_partkey " +
        "WHERE p_name LIKE '%bolt%' AND ps_availqty > 8 * qty97) " +
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        s"WHERE n_name IN (${(0 to 7).map(i => s"'NATION_$i'").mkString(", ")}) " +
        "AND s_suppkey IN (SELECT ps_suppkey FROM ex)")),
    Gate("q15_top_supplier", (s, d) => {
      // TPC-H Q15 shape: the max-revenue supplier(s) — revenue in
      // exact e4 integers so the max and its equality join cannot
      // float-drift; ties all surface (the spec's semantics)
      val l = rd(s, d, "lineitem"); val su = rd(s, d, "supplier")
      val cents = (c: Column) => round(c * 100).cast("long")
      val rev = l.groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("rev_e4"))
      val top = rev.agg(max("rev_e4").as("max_e4"))
      rev.join(broadcast(top), col("rev_e4") === col("max_e4"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_e4"))
    },
      ("WITH rev AS (SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_e4 FROM lineitem GROUP BY 1), " +
        "t AS (SELECT max(rev_e4) AS max_e4 FROM rev) " +
        "SELECT s_suppkey, s_name, rev_e4 FROM rev JOIN t ON rev_e4 = max_e4 " +
        "JOIN supplier ON l_suppkey = s_suppkey")),
    Gate("q17_small_qty", (s, d) => {
      // TPC-H Q17 shape: revenue locked in small-quantity orders —
      // qty < 0.2 x the part's average, tested as 5*qty*n < sum_qty in
      // exact integers (no float average, no correlated re-scan: the
      // per-part aggregate joins back once)
      val l = rd(s, d, "lineitem")
      val stats = l.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n_l"), sum(col("l_quantity").cast("long")).as("sum_q"))
      l.join(stats, col("l_partkey") === col("pk"))
        .where(col("l_quantity").cast("long") * 5 * col("n_l") < col("sum_q"))
        .agg(count(lit(1)).as("n_small"),
          round(sum(col("l_extendedprice")), 2).as("small_revenue"))
    },
      ("WITH st AS (SELECT l_partkey AS pk, count(*) AS n_l, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q FROM lineitem GROUP BY 1) " +
        "SELECT count(*) AS n_small, round(sum(l_extendedprice), 2) AS small_revenue " +
        "FROM lineitem JOIN st ON l_partkey = pk " +
        "WHERE CAST(l_quantity AS BIGINT) * 5 * n_l < sum_q")),
    Gate("q7_nation_trade", (s, d) => {
      // TPC-H Q7 shape: trade-flow matrix between customer and
      // supplier nations by year; BOTH nation dims broadcast under
      // distinct aliases, revenue in the round(sum,4) discipline
      val l = rd(s, d, "lineitem"); val o = rd(s, d, "orders")
      val c = rd(s, d, "customer"); val su = rd(s, d, "supplier")
      val n = rd(s, d, "nation")
      val nc = n.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val ns = n.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nc), col("c_nationkey") === col("c_nk"))
        .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
        .where(col("cust_nation") =!= col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
    },
      ("SELECT nc.n_name AS cust_nation, ns.n_name AS supp_nation, " +
        "CAST(year(l_shipdate) AS INT) AS l_year, count(*) AS n_lines, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue " +
        "FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey " +
        "JOIN customer c ON o_custkey = c_custkey " +
        "JOIN supplier s ON l_suppkey = s_suppkey " +
        "JOIN nation nc ON c.c_nationkey = nc.n_nationkey " +
        "JOIN nation ns ON s.s_nationkey = ns.n_nationkey " +
        "WHERE nc.n_name <> ns.n_name GROUP BY 1, 2, 3")),
    Gate("q_supplier_hhi", (s, d) => {
      // market-concentration audit: Herfindahl index of supplier
      // revenue shares within each part type — shares on the ppm grid,
      // HHI = sum(share_ppm^2) div 1e6, all integer arithmetic; the
      // supplier-level table the window runs over is dimension-scale
      val l = rd(s, d, "lineitem")
      val su = rd(s, d, "supplier"); val p = rd(s, d, "part")
      val rev = l.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_type"), col("s_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
      rev.withColumn("tot_c", sum("rev_c").over(Window.partitionBy("p_type")))
        .withColumn("share_ppm", expr("1000000 * rev_c div tot_c"))
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(expr("share_ppm * share_ppm")).as("sum_sq"))
        .withColumn("hhi_ppm", expr("sum_sq div 1000000"))
    },
      ("WITH rev AS (SELECT p_type, s_suppkey, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2), " +
        "sh AS (SELECT p_type, rev_c, CAST(sum(rev_c) OVER (PARTITION BY p_type) AS BIGINT) AS tot_c FROM rev), " +
        "sp AS (SELECT p_type, 1000000 * rev_c // tot_c AS share_ppm FROM sh) " +
        "SELECT p_type, count(*) AS n_suppliers, " +
        "CAST(sum(share_ppm * share_ppm) AS BIGINT) AS sum_sq, " +
        "CAST(sum(share_ppm * share_ppm) AS BIGINT) // 1000000 AS hhi_ppm FROM sp GROUP BY p_type")),
    Gate("q_yoy_growth", (s, d) => {
      // year-over-year monthly revenue ratio: month-grain aggregate
      // (calendar-bounded), self-joined to month-minus-12; the ratio
      // stays a NON-NEGATIVE floor division (growth = ratio - 1e6
      // derives downstream; a signed div would floor differently
      // across engines)
      val cents = sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c")
      val m = rd(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(cents)
      val prev = m.select(col("yr").as("p_yr"), col("mo").as("p_mo"),
        col("rev_c").as("prev_rev_c"))
      m.join(prev, col("yr") === col("p_yr") + 1 && col("mo") === col("p_mo"), "left")
        .select(col("yr"), col("mo"), col("rev_c"), col("prev_rev_c"),
          when(col("prev_rev_c") > 0,
            expr("1000000 * rev_c div prev_rev_c")).as("yoy_ratio_ppm"))
    },
      ("WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c FROM orders GROUP BY 1, 2) " +
        "SELECT a.yr, a.mo, a.rev_c, b.rev_c AS prev_rev_c, " +
        "CASE WHEN b.rev_c > 0 THEN 1000000 * a.rev_c // b.rev_c END AS yoy_ratio_ppm " +
        "FROM m a LEFT JOIN m b ON a.yr = b.yr + 1 AND a.mo = b.mo")),
    Gate("events_error_rate", (s, d) =>
      // hourly error-budget gate: exact integer rate plus the Wilson
      // lower bound (the small-n-honest alert threshold) as ONE fixed
      // double expression tree over integer counts, z = 1.96
      rd(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"))
        .withColumn("rate_ppm", expr("1000000 * errs div n"))
        .withColumn("wilson_lb", expr(
          "(CAST(errs AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE)) - " +
            "1.96 * sqrt(CAST(errs AS DOUBLE) / CAST(n AS DOUBLE) * " +
            "(1.0 - CAST(errs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + " +
            "3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / " +
            "(1.0 + 3.8416 / CAST(n AS DOUBLE))")),
      ("WITH g AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs FROM events GROUP BY 1) " +
        "SELECT h, n, errs, 1000000 * errs // n AS rate_ppm, " +
        "(CAST(errs AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE)) - " +
        "1.96 * sqrt(CAST(errs AS DOUBLE) / CAST(n AS DOUBLE) * " +
        "(1.0 - CAST(errs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) + " +
        "3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) / " +
        "(1.0 + 3.8416 / CAST(n AS DOUBLE)) AS wilson_lb FROM g")),
    Gate("orders_cohort_ltv", (s, d) => {
      // LTV curves: cohort = first-order year, revenue by year offset
      // with the cumulative track — the cohort matrix is years x years
      // (calendar-bounded), so the running-sum window is metadata-scale
      val o = rd(s, d, "orders")
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val first = o.groupBy("o_custkey").agg(min("yr").as("cohort_yr"))
      val cells = o.join(first, "o_custkey")
        .groupBy(col("cohort_yr"), (col("yr") - col("cohort_yr")).as("yr_offset"))
        .agg(count_distinct(col("o_custkey")).as("n_customers"),
          sum("cents").as("rev_c"))
      cells.withColumn("cum_rev_c",
        sum("rev_c").over(Window.partitionBy("cohort_yr").orderBy("yr_offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },
      ("WITH o AS (SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "f AS (SELECT o_custkey, min(yr) AS cohort_yr FROM o GROUP BY 1), " +
        "cells AS (SELECT f.cohort_yr, o.yr - f.cohort_yr AS yr_offset, " +
        "count(DISTINCT o.o_custkey) AS n_customers, CAST(sum(o.cents) AS BIGINT) AS rev_c " +
        "FROM o JOIN f ON f.o_custkey = o.o_custkey GROUP BY 1, 2) " +
        "SELECT cohort_yr, yr_offset, n_customers, rev_c, " +
        "CAST(sum(rev_c) OVER (PARTITION BY cohort_yr ORDER BY yr_offset ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c FROM cells")),
    Gate("q_market_share", (s, d) => {
      // TPC-H Q8 shape: each nation's ppm share of its region's yearly
      // demand-side revenue; the region total rides a window over the
      // nation x year aggregate (dimension-scale, not fact-scale)
      val c = rd(s, d, "customer"); val o = rd(s, d, "orders")
      val n = rd(s, d, "nation"); val r = rd(s, d, "region")
      val base = c.join(o, col("c_custkey") === col("o_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_c"))
      base.withColumn("region_rev_c",
        sum("rev_c").over(Window.partitionBy("r_name", "yr")))
        .withColumn("share_ppm", expr("1000000 * rev_c div region_rev_c"))
    },
      ("WITH base AS (SELECT r_name, n_name, CAST(year(o_orderdate) AS INT) AS yr, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c " +
        "FROM customer c JOIN orders o ON c_custkey = o_custkey " +
        "JOIN nation n ON c_nationkey = n_nationkey JOIN region r ON n_regionkey = r_regionkey " +
        "GROUP BY 1, 2, 3) " +
        "SELECT r_name, n_name, yr, rev_c, " +
        "CAST(sum(rev_c) OVER (PARTITION BY r_name, yr) AS BIGINT) AS region_rev_c, " +
        "1000000 * rev_c // CAST(sum(rev_c) OVER (PARTITION BY r_name, yr) AS BIGINT) AS share_ppm FROM base")),
    Gate("pareto_abc", (s, d) => {
      // Pareto/ABC part classification: cumulative revenue share over
      // the revenue-desc total order, prefix-summed via range
      // partitions + partition offsets (never one global window);
      // class cuts compare in cross-multiplied integers
      val rev = rd(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
      val pre = Stats.rangePrefixSum(rev,
        Seq(col("rev_c").desc, col("l_partkey").asc), "rev_c", "cum_c")
      val tot = rev.agg(sum("rev_c").as("tot_c"))
      pre.crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("rev_c"), col("cum_c"),
          when(col("cum_c") * 100 <= col("tot_c") * 80, "A")
            .when(col("cum_c") * 100 <= col("tot_c") * 95, "B")
            .otherwise("C").as("abc_class"))
    },
      ("WITH rev AS (SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c " +
        "FROM lineitem GROUP BY 1), " +
        "c AS (SELECT l_partkey, rev_c, CAST(sum(rev_c) OVER " +
        "(ORDER BY rev_c DESC, l_partkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c FROM rev), " +
        "t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tot_c FROM rev) " +
        "SELECT l_partkey, rev_c, cum_c, CASE WHEN cum_c * 100 <= tot_c * 80 THEN 'A' " +
        "WHEN cum_c * 100 <= tot_c * 95 THEN 'B' ELSE 'C' END AS abc_class FROM c CROSS JOIN t")),
    Gate("seg_rfm", (s, d) =>
      // RFM customer segmentation: combinable per-customer aggregate,
      // exact quintile thresholds broadcast back, projection scoring
      graft.operators.Segmentation.rfmScores(
        rd(s, d, "orders"), tlit("2002-01-01 00:00:00")),
      graft.operators.Segmentation.rfmScoresSql("orders", "2002-01-01")),
    Gate("dq_freshness", (s, d) =>
      // per-feed freshness SLA: staleness of the newest event against
      // a reference clock, integer seconds, boolean gate
      rd(s, d, "events")
        .groupBy("event_type")
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
        .withColumn("staleness_s",
          expr("(unix_micros(timestamp '2024-02-01 00:00:00') - unix_micros(last_ts)) div 1000000"))
        .withColumn("sla_ok", col("staleness_s") <= 172800),
      ("WITH g AS (SELECT event_type, max(ts) AS last_ts, count(*) AS n_events FROM events GROUP BY 1) " +
        "SELECT event_type, last_ts, n_events, " +
        "(epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(last_ts)) // 1000000 AS staleness_s, " +
        "(epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(last_ts)) // 1000000 <= 172800 AS sla_ok FROM g")),
    Gate("events_stickiness", (s, d) => {
      // DAU/WAU stickiness per day — the rolling-actives machinery at
      // two window lengths, ratio on the ppm grid
      val ev = rd(s, d, "events")
      val dau = Events.rollingActiveUsers(ev, windowDays = 1)
        .withColumnRenamed("wau", "dau")
      val wau = Events.rollingActiveUsers(ev, windowDays = 7)
      dau.join(wau, Seq("w_day"))
        .select(col("w_day"), col("dau"), col("wau"),
          expr("1000000 * dau div wau").as("stickiness_ppm"))
    },
      ("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "dau AS (SELECT d AS w_day, count(*) AS dau FROM ud GROUP BY 1), " +
        "ex AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(CAST(d AS TIMESTAMP), " +
        "CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_day FROM ud), " +
        "wau AS (SELECT w_day, count(*) AS wau FROM ex GROUP BY 1) " +
        "SELECT d.w_day, d.dau, w.wau, 1000000 * d.dau // w.wau AS stickiness_ppm " +
        "FROM dau d JOIN wau w ON w.w_day = d.w_day")),
    Gate("ab_conversion_report", (s, d) =>
      // hash-assigned experiment arms, per-arm distinct converters,
      // rate on the ppm grid — assignment is a pure salt+user function
      abCounts(s, d)
        .withColumn("conv_ppm", expr("1000000 * n_conv div n_users")),
      (s"WITH u AS (SELECT DISTINCT user_id FROM events), " +
        s"arms AS (SELECT user_id, ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
        "c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value >= 90) " +
        "SELECT arm, count(*) AS n_users, count(c.user_id) AS n_conv, " +
        "1000000 * count(c.user_id) // count(*) AS conv_ppm " +
        "FROM arms a LEFT JOIN c ON a.user_id = c.user_id GROUP BY arm")),
    Gate("ab_ztest", (s, d) => {
      // two-proportion pooled z: integer counts pivot to one row, the
      // statistic is ONE fixed double expression tree (identical text
      // in the oracle) — sqrt/div are IEEE-exact on both engines
      val c = abCounts(s, d)
      val one = c.agg(
        sum(when(col("arm") === "a", col("n_users"))).as("na"),
        sum(when(col("arm") === "a", col("n_conv"))).as("ca"),
        sum(when(col("arm") === "b", col("n_users"))).as("nb"),
        sum(when(col("arm") === "b", col("n_conv"))).as("cb"))
      val pa = col("ca").cast("double") / col("na").cast("double")
      val pb = col("cb").cast("double") / col("nb").cast("double")
      val pp = (col("ca") + col("cb")).cast("double") /
        (col("na") + col("nb")).cast("double")
      one.select(col("na"), col("ca"), col("nb"), col("cb"),
        // degenerate experiments (nobody or everybody converted) have
        // zero pooled variance: NULL, guarded identically in the oracle
        when(col("ca") + col("cb") > 0 &&
          col("ca") + col("cb") < col("na") + col("nb"),
          (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("na").cast("double") +
              lit(1.0) / col("nb").cast("double")))).as("z"))
    },
      (s"WITH u AS (SELECT DISTINCT user_id FROM events), " +
        s"arms AS (SELECT user_id, ${OracleSql.hashSplitCase("CAST(user_id AS VARCHAR)", "ab1", abArms)} AS arm FROM u), " +
        "c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value >= 90), " +
        "g AS (SELECT arm, count(*) AS n_users, count(c.user_id) AS n_conv " +
        "FROM arms a LEFT JOIN c ON a.user_id = c.user_id GROUP BY arm), " +
        "p AS (SELECT CAST(sum(CASE WHEN arm = 'a' THEN n_users END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN arm = 'a' THEN n_conv END) AS BIGINT) AS ca, " +
        "CAST(sum(CASE WHEN arm = 'b' THEN n_users END) AS BIGINT) AS nb, " +
        "CAST(sum(CASE WHEN arm = 'b' THEN n_conv END) AS BIGINT) AS cb FROM g) " +
        "SELECT na, ca, nb, cb, " +
        "CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN " +
        "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
        "sqrt(CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE) * " +
        "(1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)) * " +
        "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) END AS z FROM p")),
    Gate("funnel_latency", (s, d) => {
      // conversion-lag distribution for completed view->click->purchase
      // funnels: integer seconds, exact discrete percentiles
      val f = Events.funnel(rd(s, d, "events"), Seq("view", "click", "purchase"))
        .filter(col("t_purchase").isNotNull)
        .select(expr("(unix_micros(t_purchase) - unix_micros(t_view)) div 1000000")
          .as("lag_s"))
      val v = Views.unique("funnel_lat")
      f.createOrReplaceTempView(v)
      val out = s.sql(
        "SELECT count(*) AS n_converted, min(lag_s) AS min_s, max(lag_s) AS max_s, " +
          "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_s) AS BIGINT) AS p50_s, " +
          s"CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_s) AS BIGINT) AS p90_s FROM $v")
      s.catalog.dropTempView(v)
      out
    },
      ("WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view " +
        "WHERE e.event_type = 'click' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click " +
        "WHERE e.event_type = 'purchase' GROUP BY 1), " +
        "l AS (SELECT (epoch_us(p.t_purchase) - epoch_us(v.t_view)) // 1000000 AS lag_s FROM p JOIN v ON v.user_id = p.user_id) " +
        "SELECT count(*) AS n_converted, min(lag_s) AS min_s, max(lag_s) AS max_s, " +
        "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_s) AS BIGINT) AS p50_s, " +
        "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_s) AS BIGINT) AS p90_s FROM l")),
    Gate("events_top_paths", (s, d) =>
      // journey mining: each user's first five events as an ordered
      // path string, counted; the path assembles deterministically via
      // array_sort over (rn, type) structs — no order-dependent
      // collect_list
      rd(s, d, "events")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") <= 5)
        .groupBy("user_id")
        .agg(expr("concat_ws('>', transform(array_sort(" +
          "collect_list(struct(rn, event_type))), x -> x.event_type))").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users")),
      ("WITH o AS (SELECT user_id, event_type, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), " +
        "p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path FROM o WHERE rn <= 5 GROUP BY user_id) " +
        "SELECT path, count(*) AS n_users FROM p GROUP BY path")),
    Gate("seg_rfm_transition", (s, d) => {
      // segment migration: each customer's monetary quintile in the
      // early period vs the late period (0 = absent), counted into the
      // tier-transition matrix CRM teams read churn/upsell from. Two
      // runs of the threshold-scored RFM (quintile cuts broadcast, no
      // global ntile) meet in one full-outer join on the customer key
      val ord = rd(s, d, "orders")
      val split = to_date(lit("1996-01-01"))
      def tier(o: org.apache.spark.sql.DataFrame, ref: String) =
        graft.operators.Segmentation.rfmScores(o, to_date(lit(ref)))
          .select(col("o_custkey"), col("m_score"))
      val p1 = tier(ord.filter(col("o_orderdate") < split), "1996-01-01")
        .withColumnRenamed("m_score", "__t1")
      val p2 = tier(ord.filter(col("o_orderdate") >= split), "1998-12-31")
        .withColumnRenamed("m_score", "__t2")
      p1.join(p2, Seq("o_custkey"), "full_outer")
        .groupBy(coalesce(col("__t1"), lit(0)).as("tier_from"),
          coalesce(col("__t2"), lit(0)).as("tier_to"))
        .agg(count(lit(1)).as("n_customers"))
    },
      (s"WITH p1 AS (${graft.operators.Segmentation.rfmScoresSql(
        "(SELECT * FROM orders WHERE o_orderdate < DATE '1996-01-01') AS t",
        "1996-01-01")}), " +
        s"p2 AS (${graft.operators.Segmentation.rfmScoresSql(
          "(SELECT * FROM orders WHERE o_orderdate >= DATE '1996-01-01') AS t",
          "1998-12-31")}) " +
        "SELECT coalesce(p1.m_score, 0) AS tier_from, coalesce(p2.m_score, 0) AS tier_to, " +
        "count(*) AS n_customers FROM p1 FULL JOIN p2 ON p1.o_custkey = p2.o_custkey " +
        "GROUP BY 1, 2")),
    Gate("orders_backlog", (s, d) => {
      // open-order inventory over time: +1 at placement, −1 the day
      // after the LAST line ships (cross-table interval sweep); the
      // running sum sits on the calendar-bounded daily net table — the
      // documented unpartitioned-window class, never on raw rows
      val st = rd(s, d, "orders")
        .select(to_date(col("o_orderdate")).as("d"), lit(1L).as("delta"))
      val en = rd(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("__ship"))
        .select(date_add(col("__ship"), 1).as("d"), lit(-1L).as("delta"))
      val daily = st.unionByName(en).groupBy("d").agg(sum("delta").as("net"))
      daily.withColumn("backlog", sum("net").over(Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },
      ("WITH st AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(1 AS BIGINT) AS delta FROM orders), " +
        "en AS (SELECT CAST(max(l_shipdate) AS DATE) + 1 AS d, CAST(-1 AS BIGINT) AS delta " +
        "FROM lineitem GROUP BY l_orderkey), " +
        "daily AS (SELECT d, CAST(sum(delta) AS BIGINT) AS net " +
        "FROM (SELECT * FROM st UNION ALL SELECT * FROM en) u GROUP BY 1) " +
        "SELECT d, net, CAST(sum(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog " +
        "FROM daily")),
    Gate("seq_ohlc", (s, d) =>
      // day-grain OHLC bars via order-carrying struct min/max — one
      // combinable aggregate, no window, no sort
      Events.ohlcBars(rd(s, d, "events"), priceType = "purchase"),
      ("WITH p AS (SELECT CAST(ts AS DATE) AS d, ts, event_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events WHERE event_type = 'purchase'), " +
        "o AS (SELECT d, cents, row_number() OVER (PARTITION BY d ORDER BY ts, event_id) AS rn_a, " +
        "row_number() OVER (PARTITION BY d ORDER BY ts DESC, event_id DESC) AS rn_d FROM p) " +
        "SELECT d, min(CASE WHEN rn_a = 1 THEN cents END) AS open_c, " +
        "min(CASE WHEN rn_d = 1 THEN cents END) AS close_c, " +
        "max(cents) AS high_c, min(cents) AS low_c, count(*) AS n_trades, " +
        "CAST(sum(cents) AS BIGINT) AS volume_c FROM o GROUP BY d")),
    Gate("seq_twap", (s, d) =>
      // per-user time-weighted average value: integer second weights,
      // exact numerator/denominator, one terminal floor division
      Events.timeWeightedAverage(rd(s, d, "events")),
      ("WITH e AS (SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents, " +
        "epoch_us(ts) AS us FROM events), " +
        "l AS (SELECT user_id, cents, us, lead(us) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS next_us FROM e), " +
        "s AS (SELECT user_id, cents, (next_us - us) // 1000000 AS dur_s FROM l WHERE next_us IS NOT NULL) " +
        "SELECT user_id, count(*) AS n_spans, CAST(sum(dur_s) AS BIGINT) AS total_s, " +
        "CAST(sum(cents * dur_s) AS BIGINT) AS wsum_cs, " +
        "CASE WHEN CAST(sum(dur_s) AS BIGINT) > 0 THEN " +
        "CAST(sum(cents * dur_s) AS BIGINT) // CAST(sum(dur_s) AS BIGINT) END AS twap_c " +
        "FROM s GROUP BY user_id")),
    Gate("dq_scd2_intervals", (s, d) => {
      // SCD-2 validity audit over a seeded history with injected
      // defects: %11 keys an overlapping version, %13 keys a coverage
      // gap, %17 keys a second version after an open-ended one
      val c = rd(s, d, "customer")
      val t0 = tlit("2023-01-01 00:00:00"); val t1 = tlit("2024-01-01 00:00:00")
      val now = tlit("2024-06-01 00:00:00")
      def rows(f: Column, from: Column, to: Column) =
        c.filter(f).select(col("c_custkey").as("k"),
          from.as("valid_from"), to.as("valid_to"))
      val hist = rows(lit(true), t1, now)
        .unionByName(rows(col("c_custkey") % 7 === 0, t0, t1))
        .unionByName(rows(col("c_custkey") % 11 === 0,
          tlit("2023-06-01 00:00:00"), tlit("2024-03-01 00:00:00")))
        .unionByName(rows(col("c_custkey") % 13 === 0,
          tlit("2024-08-01 00:00:00"), tlit("2024-12-01 00:00:00")))
        .unionByName(rows(col("c_custkey") % 17 === 0, now,
          lit(null).cast("timestamp")))
        .unionByName(rows(col("c_custkey") % 17 === 0,
          tlit("2024-09-01 00:00:00"), tlit("2024-12-31 00:00:00")))
      graft.operators.Quality.scd2IntervalAudit(
        hist, Seq("k"), "valid_from", "valid_to")
    },
      ("WITH hist AS (" +
        "SELECT c_custkey AS k, TIMESTAMP '2024-01-01 00:00:00' AS valid_from, TIMESTAMP '2024-06-01 00:00:00' AS valid_to FROM customer " +
        "UNION ALL SELECT c_custkey, TIMESTAMP '2023-01-01 00:00:00', TIMESTAMP '2024-01-01 00:00:00' FROM customer WHERE c_custkey % 7 = 0 " +
        "UNION ALL SELECT c_custkey, TIMESTAMP '2023-06-01 00:00:00', TIMESTAMP '2024-03-01 00:00:00' FROM customer WHERE c_custkey % 11 = 0 " +
        "UNION ALL SELECT c_custkey, TIMESTAMP '2024-08-01 00:00:00', TIMESTAMP '2024-12-01 00:00:00' FROM customer WHERE c_custkey % 13 = 0 " +
        "UNION ALL SELECT c_custkey, TIMESTAMP '2024-06-01 00:00:00', CAST(NULL AS TIMESTAMP) FROM customer WHERE c_custkey % 17 = 0 " +
        "UNION ALL SELECT c_custkey, TIMESTAMP '2024-09-01 00:00:00', TIMESTAMP '2024-12-31 00:00:00' FROM customer WHERE c_custkey % 17 = 0), " +
        "a AS (SELECT k, valid_from, lag(valid_to) OVER win AS prev_to, lag(1) OVER win AS has_prev FROM hist " +
        "WINDOW win AS (PARTITION BY k ORDER BY valid_from ASC, valid_to ASC NULLS LAST)) " +
        "SELECT k, valid_from, prev_to, CASE WHEN prev_to IS NULL THEN 'after_open' " +
        "WHEN prev_to > valid_from THEN 'overlap' ELSE 'gap' END AS status " +
        "FROM a WHERE has_prev IS NOT NULL AND (prev_to IS NULL OR prev_to <> valid_from)")),
    Gate("layout_compaction_plan", (s, d) => {
      // lakehouse OPTIMIZE planning: month x flag x status partition
      // inventory (metadata-scale) packed into ~50 KB bins by
      // running-sum segmentation
      val files = rd(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
        .agg((count(lit(1)) * 100).as("est_bytes"))
      graft.sources.Layout.compactionPlan(files, Seq("rf", "ls", "mon"),
        "est_bytes", targetSize = 50000L)
        .select("rf", "ls", "mon", "est_bytes", "cum_before", "bin")
    },
      ("WITH files AS (SELECT l_returnflag AS rf, l_linestatus AS ls, " +
        "strftime(l_shipdate, '%Y-%m') AS mon, count(*) * 100 AS est_bytes " +
        "FROM lineitem GROUP BY 1, 2, 3), " +
        "w AS (SELECT rf, ls, mon, CAST(est_bytes AS BIGINT) AS est_bytes, " +
        "CAST(coalesce(sum(est_bytes) OVER (ORDER BY rf, ls, mon " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM files) " +
        "SELECT rf, ls, mon, est_bytes, cum_before, cum_before // 50000 AS bin FROM w")),

    // —— format interop: fidelity through the OTHER formats a lake
    //    holds (ORC columnar, JSON-lines interchange) ——
    Gate("s_orc_roundtrip", (s, d) => {
      // orders written to ORC once (content-epoch path: regenerated
      // testdata re-materializes), read back, aggregated — the oracle
      // aggregates the ORIGINAL parquet, so green proves ORC write/
      // read fidelity for longs, doubles, strings, and timestamps
      val o = rd(s, d, "orders")
      val (dir, tbl) = Artifacts.table(s, d, "fmt_orc_orders", o, "o_orderkey",
        graft.sources.Warehouse.exportOrc)(identity)
      graft.sources.Warehouse.readOrc(s, dir, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          min(col("o_orderdate")).as("first_ts"),
          max(col("o_orderdate")).as("last_ts"))
    },
      // format roundtrips: the oracle reads the ORIGINAL parquet
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "min(o_orderdate) AS first_ts, max(o_orderdate) AS last_ts " +
        "FROM orders GROUP BY 1")),
    Gate("s_jsonl_roundtrip", (s, d) => {
      // documents through JSON lines with the EXPLICIT original schema
      // (never inferred — the S2 discipline applied to ingest's
      // interchange format); length sums catch any text mangling
      val docs = rd(s, d, "documents")
      val (dir, tbl) = Artifacts.table(s, d, "fmt_jsonl_docs", docs, "doc_id",
        graft.sources.Warehouse.exportJsonl)(identity)
      graft.sources.Warehouse.readJsonl(s, dir, tbl, docs.schema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
    },
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_len, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS first_id, max(doc_id) AS last_id " +
        "FROM documents GROUP BY 1")),

    Gate("wh_time_travel", (s, d) => {
      // versioned-table time travel gated end-to-end: generation 1
      // (nation x region names) is displaced by generation 2 (upper-
      // cased) through overwriteVersioned's archive-on-swap; the query
      // reads the ARCHIVED snapshot back, and the oracle computes
      // generation 1 from the ORIGINAL tables — green proves the
      // archive holds exactly the displaced bytes' content, the same
      // independent write/read discipline as the format gates
      import graft.sources.Warehouse
      val n = rd(s, d, "nation"); val r = rd(s, d, "region")
      val d1 = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      val (dir, tbl) = Artifacts.fold(s, d, s"ttravel_${contentEpoch(n, "n_nationkey")}") { (dir, tbl) =>
        if (Warehouse.versions(s, dir, tbl).isEmpty) {
          // deterministic rebuild from any partial state: clear, then
          // write the two generations so exactly ONE archive (= gen 1)
          // exists
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$tbl"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$tbl.v"), true)
          Warehouse.overwriteVersioned(d1, dir, tbl)
          Warehouse.overwriteVersioned(
            d1.withColumn("n_name", upper(col("n_name"))), dir, tbl)
        }
      }
      Warehouse.readVersion(s, dir, tbl,
        Warehouse.versions(s, dir, tbl).head)
    },
      // generation 1's derivation from the ORIGINAL tables — the Spark
      // side reads it back out of the version archive
      ("SELECT n_nationkey, n_name, r_name FROM nation " +
        "JOIN region ON r_regionkey = n_regionkey")),
    Gate("stream_txn_replay", (s, d) => {
      // the TRANSACTIONAL streaming sink, batch-replayed: each
      // micro-batch merges facts AND recomputes the rollup in one root
      // commit (txn id = batchId + 2 — the manifest-stamp discipline on
      // the root pointer); batch 2 crash-replays poisoned and must
      // no-op; the gate reads BOTH members through one snapshot, so the
      // committed rollup must equal the aggregate of the final facts
      import graft.sources.Warehouse.Txn
      val src = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      val facts0 = src.where(col("k") % 1000 =!= 7)
        .select(col("k"), col("status"), col("cents0").as("cents"))
      def roll(f: DataFrame): DataFrame = f.groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
      val spec = MergeSpec(Seq("k"), Seq("cents"))
      def batch(i: Int, poison: Boolean): DataFrame = {
        val c = if (poison) lit(-99L) else col("cents0") + i
        src.where(col("k") % 1000 =!= 7 && col("k") % 4 === i)
          .select(col("k"), c.as("cents"))
      }
      val (dir, grp) = Artifacts.fold(s, d, s"txn_stream_${contentEpoch(src, "k")}") { (dir, grp) =>
        if (Txn.snapshot(s, dir, grp).isEmpty)
          Txn.commit(s, dir, grp,
            Map("facts" -> facts0, "rollup" -> roll(facts0)))
        (0 until 4).foreach { i =>
          graft.streaming.Streams.foldTxnBatch(
            batch(i, poison = false), i.toLong, dir, grp, spec, tlit(tsNow), roll)
          if (i == 2) // crash replay with a poisoned payload: must no-op
            require(!graft.streaming.Streams.foldTxnBatch(
              batch(i, poison = true), i.toLong, dir, grp, spec, tlit(tsNow), roll),
              "a replayed batch must be skipped by the txn-id guard")
        }
      }
      // PRE-STAMP migration window, closed: a group whose root predates
      // the batch stamp (txn= line, no batch= key) seeds lastBatch from
      // the old txn-counter convention (txn − 2), so even its FIRST
      // crash replay under the stamped sink skips on a MODIFIED payload
      // — previously that window was only idempotent over byte-identical
      // content
      Artifacts.fold(s, d, s"txn_prestamp_${contentEpoch(src, "k")}") { (dir, grp2) =>
        if (Txn.snapshot(s, dir, grp2).isEmpty) {
          Txn.commit(s, dir, grp2,
            Map("facts" -> facts0, "rollup" -> roll(facts0)))
          // batch 0 applied OLD-STYLE: merged content committed with NO
          // batch stamp — the authentic pre-stamp root state
          val cur = Txn.readAt(s, dir, grp2, Txn.snapshot(s, dir, grp2).get, "facts")
          val m0 = graft.operators.Merge.scd1(
            cur, batch(0, poison = false), spec, tlit(tsNow))
            .select(cur.columns.map(col).toIndexedSeq: _*)
          Txn.commit(s, dir, grp2, Map("facts" -> m0, "rollup" -> roll(m0)))
        }
        if (Txn.snapshot(s, dir, grp2).get.txn == 2) {
          require(Txn.snapshot(s, dir, grp2).get.lastBatch == 0L,
            "a pre-stamp root at txn 2 must seed lastBatch = 0")
          // a derived seed is refused WITHOUT the explicit migration
          // opt-in (the convention assumption is unverifiable from the
          // filesystem — a convention-violating group would silently
          // lose batches)
          require(scala.util.Try(graft.streaming.Streams.foldTxnBatch(
            batch(0, poison = true), 0L, dir, grp2, spec, tlit(tsNow), roll)).isFailure,
            "resume on a derived seed must refuse without the opt-in")
          // crash replay of the pre-stamp batch with POISONED content:
          // the seeded stamp must skip it once the operator opts in
          // (this gate built the root itself, so the convention holds)
          require(!graft.streaming.Streams.foldTxnBatch(
            batch(0, poison = true), 0L, dir, grp2, spec, tlit(tsNow), roll,
            acceptPrestampSeed = true),
            "a pre-stamp root's replayed batch must skip via the seeded stamp")
          // the next live batch applies and stamps explicitly
          require(graft.streaming.Streams.foldTxnBatch(
            batch(1, poison = false), 1L, dir, grp2, spec, tlit(tsNow), roll,
            acceptPrestampSeed = true),
            "the first live batch after migration must apply")
        }
      }
      val snap = Txn.snapshot(s, dir, grp).get
      val live = Txn.readAt(s, dir, grp, snap, "facts").groupBy("status")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"))
      live.join(Txn.readAt(s, dir, grp, snap, "rollup"), Seq("status"))
        .select(col("status"), col("n_live"), col("cents_live"),
          col("n").as("n_rollup"), col("cents_sum").as("cents_rollup"))
    },
      // each key is updated by exactly ONE batch (the batches partition
      // the keyspace by k % 4), so the final cents are closed-form; the
      // committed rollup must equal the facts aggregate
      ("WITH f AS (SELECT o_orderstatus AS status, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) + (o_orderkey % 4) AS cents " +
        "FROM orders WHERE o_orderkey % 1000 <> 7), " +
        "a AS (SELECT status, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS cs FROM f GROUP BY 1) " +
        "SELECT status, n AS n_live, cs AS cents_live, " +
        "n AS n_rollup, cs AS cents_rollup FROM a")),
    Gate("wh_txn_snapshot", (s, d) => {
      // cross-table SNAPSHOT ISOLATION gated end-to-end: facts and
      // their rollup commit as ONE transaction (one root rename), txn 2
      // updates both, and the gate reads BOTH tables through a single
      // resolved snapshot — the recomputed-from-facts aggregate must
      // equal the committed rollup column-for-column, which two
      // independent pointer flips cannot guarantee to a racing reader
      import graft.sources.Warehouse.Txn
      val src = rd(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      def facts(bump: Boolean): DataFrame = {
        val c = if (bump)
          when(col("k") % 100 === 3, col("cents0") + 11).otherwise(col("cents0"))
        else col("cents0")
        src.where(col("k") % 1000 =!= 7)
          .select(col("k"), col("status"), c.as("cents"))
      }
      def rollup(f: DataFrame): DataFrame = f.groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
      val (dir, grp) = Artifacts.fold(s, d, s"txn_orders_${contentEpoch(src, "k")}") { (dir, grp) =>
        val cur = Txn.snapshot(s, dir, grp).map(_.txn).getOrElse(0L)
        if (cur < 1) Txn.commit(s, dir, grp,
          Map("facts" -> facts(bump = false), "rollup" -> rollup(facts(bump = false))))
        if (Txn.snapshot(s, dir, grp).get.txn < 2) Txn.commit(s, dir, grp,
          Map("facts" -> facts(bump = true), "rollup" -> rollup(facts(bump = true))))
      }
      val snap = Txn.snapshot(s, dir, grp).get
      val live = Txn.readAt(s, dir, grp, snap, "facts").groupBy("status")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"))
      live.join(Txn.readAt(s, dir, grp, snap, "rollup"), Seq("status"))
        .select(col("status"), col("n_live"), col("cents_live"),
          col("n").as("n_rollup"), col("cents_sum").as("cents_rollup"))
    },
      // one resolved snapshot reads both members of txn 2: the committed
      // rollup must equal the aggregate recomputed from the facts
      ("WITH f AS (SELECT o_orderstatus AS status, " +
        "CASE WHEN o_orderkey % 100 = 3 THEN CAST(round(o_totalprice * 100) AS BIGINT) + 11 " +
        "ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents " +
        "FROM orders WHERE o_orderkey % 1000 <> 7), " +
        "a AS (SELECT status, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS cs FROM f GROUP BY 1) " +
        "SELECT status, n AS n_live, cs AS cents_live, " +
        "n AS n_rollup, cs AS cents_rollup FROM a")),
    Gate("s_schema_evolution", (s, d) => {
      // schema evolution across file epochs: epoch 1 lacks the
      // priority column, epoch 2 carries it; mergeSchema unifies and
      // old files read NULL — the gate pins exactly the widening
      // semantics a lake table must give appended columns
      val o = rd(s, d, "orders")
      val path = Artifacts.path(s, d, s"fmt_evo_orders_${contentEpoch(o, "o_orderkey")}") { tmp =>
        val cents = round(col("o_totalprice") * 100).cast("long").as("cents")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), cents)
          .write.mode("overwrite").parquet(s"$tmp/epoch=1")
        o.filter(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), cents, col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$tmp/epoch=2")
      }
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
          .as("priority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    },
      ("SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>' " +
        "ELSE o_orderpriority END AS priority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1")),
    Gate("s_partitioned_scan", (s, d) => {
      // directory-partitioned write/read fidelity: events land under
      // day=YYYY-MM-DD directories; the partition column comes back
      // from the PATH, not the file bytes — counts and sums per day
      // must still match the flat original
      val ev = rd(s, d, "events")
      val path = Artifacts.path(s, d, s"fmt_part_events_${contentEpoch(ev, "event_id")}")(tmp =>
        graft.sources.Layout.writePartitioned(
          ev.withColumn("day", date_format(col("ts"), "yyyy-MM-dd")), tmp, Seq("day")))
      // partition-type inference reads day=2024-01-01 as DATE; pin the
      // gate's type to the written string form
      s.read.parquet(path)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          count_distinct(col("user_id")).as("n_users"))
    },
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1")),

    // —— spatial grid family: geometry as candidate generation ——
    Gate("geo_grid_pairs", (s, d) =>
      // all customer pairs within Euclidean distance 2000 on the
      // derived integer plane, found via the 3x3-neighbor-cell
      // equi-join; the oracle is the brute cross join, so the gate
      // proves the grid path finds EXACTLY the all-pairs answer
      graft.operators.Geo.gridPairs(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L), 2000L),
      (s"WITH ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)} " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2 " +
        "FROM pts a JOIN pts b ON a.id < b.id " +
        "AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000")),
    Gate("geo_knn_radius", (s, d) =>
      // radius-bounded 5-NN: sparse query set (every 50th customer)
      // probed against the supplier plane — the asymmetric
      // index-lookup shape; (dist2, id) tie-break pins the ranking
      graft.operators.Geo.knnRadius(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L)
          .filter(col("id") % 50 === 0),
        geoPoints(rd(s, d, "supplier"), "s_suppkey", 16807L, 65539L),
        r = 15000L, k = 5),
      (s"WITH ${geoPtsCte("q", "customer", "c_custkey", 48271L, 69621L, " WHERE c_custkey % 50 = 0")}, " +
        s"${geoPtsCte("c", "supplier", "s_suppkey", 16807L, 65539L)}, " +
        "j AS (SELECT q.id AS q_id, c.id AS c_id, " +
        "(q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y) AS dist2 FROM q JOIN c " +
        "ON (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y) <= 225000000), " +
        "r AS (SELECT q_id, c_id, dist2, CAST(row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dist2, c_id) AS INT) AS rank FROM j) " +
        "SELECT q_id, rank, c_id, dist2 FROM r WHERE rank <= 5")),
    Gate("geo_cell_smooth", (s, d) =>
      // 3x3 box-filtered cell density raster: scatter runs on the
      // aggregated cell table (9x cells, never 9x points)
      graft.operators.Geo.cellSmooth(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L), 5000L),
      (s"WITH ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)}, " +
        "cnt AS (SELECT x // 5000 AS cx0, y // 5000 AS cy0, count(*) AS n FROM pts GROUP BY 1, 2), " +
        "off AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) t(dx, dy)) " +
        "SELECT cnt.cx0 + off.dx AS cx, cnt.cy0 + off.dy AS cy, " +
        "CAST(sum(n) AS BIGINT) AS smoothed FROM cnt CROSS JOIN off GROUP BY 1, 2")),

    Gate("feat_best_split", (s, d) =>
      // decision-stump sweep: every l_quantity threshold's exact
      // class counts and integer Gini purity for returnflag='R' —
      // one combinable scan + a cardinality-bounded prefix window
      graft.operators.Stats.bestSplits(rd(s, d, "lineitem"),
        col("l_quantity"), col("l_returnflag") === "R"),
      graft.operators.Stats.bestSplitsSql(
        "lineitem", "l_quantity", "l_returnflag = 'R'")),
    Gate("feat_split_rank", (s, d) =>
      // feature selection: four candidate columns stump-swept at once
      // (one explode, one data-sized aggregation, partitioned
      // windows), each reduced to its best threshold
      graft.operators.Stats.bestSplitRank(rd(s, d, "lineitem"), Seq(
        "qty" -> col("l_quantity"),
        "disc_bp" -> round(col("l_discount") * 100),
        "tax_bp" -> round(col("l_tax") * 100),
        "linenum" -> col("l_linenumber")),
        col("l_returnflag") === "R"),
      graft.operators.Stats.bestSplitRankSql(
        "lineitem", Seq(
          "qty" -> "l_quantity",
          "disc_bp" -> "round(l_discount * 100)",
          "tax_bp" -> "round(l_tax * 100)",
          "linenum" -> "l_linenumber"),
        "l_returnflag = 'R'")),
    Gate("geo_core_points", (s, d) =>
      // DBSCAN core points over the customer plane: >= 4 neighbors
      // within 2000 — grid-join neighbor counts, isolated points
      // report 0 via the left join back
      graft.operators.Geo.corePoints(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L),
        r = 2000L, minPts = 4),
      (s"WITH ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)}, " +
        "nb AS (SELECT a.id, count(*) AS n_neighbors FROM pts a JOIN pts b " +
        "ON a.id <> b.id AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000 GROUP BY 1) " +
        "SELECT p.id, CAST(coalesce(nb.n_neighbors, 0) AS BIGINT) AS n_neighbors, " +
        "coalesce(nb.n_neighbors, 0) >= 4 AS is_core FROM pts p LEFT JOIN nb ON p.id = nb.id")),
    Gate("geo_knn_graph", (s, d) =>
      // the kNN graph: each customer's 3 nearest other customers
      // within 2000 — one grid pass symmetrized + one rank window
      graft.operators.Geo.knnGraph(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L),
        r = 2000L, k = 3),
      (s"WITH ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)}, " +
        "j AS (SELECT a.id AS id, b.id AS nb, " +
        "(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2 FROM pts a JOIN pts b " +
        "ON a.id <> b.id AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000) " +
        "SELECT id, rank, nb, dist2 FROM (SELECT id, nb, dist2, " +
        "CAST(row_number() OVER (PARTITION BY id ORDER BY dist2, nb) AS INT) AS rank FROM j) t " +
        "WHERE rank <= 3")),
    Gate("geo_dbscan_clusters", (s, d) =>
      // the full DBSCAN labeling: components of the core-core graph
      // via star contraction, borders adopt the min core neighbor's
      // cluster, noise stays NULL — grid join + O(log n) rounds
      graft.operators.Geo.dbscanClusters(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L),
        r = 2000L, minPts = 4),
      (s"WITH RECURSIVE ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)}, " +
        "nb AS (SELECT a.id AS id, b.id AS nb FROM pts a JOIN pts b " +
        "ON a.id <> b.id AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000), " +
        "cores AS (SELECT id FROM nb GROUP BY id HAVING count(*) >= 4), " +
        "ce AS (SELECT n.id AS src, n.nb AS dst FROM nb n " +
        "JOIN cores c1 ON c1.id = n.id JOIN cores c2 ON c2.id = n.nb), " +
        "wlk(node, root) AS (SELECT id, id FROM cores " +
        "UNION SELECT ce.dst, wlk.root FROM wlk JOIN ce ON ce.src = wlk.node), " +
        "comp AS (SELECT node AS id, min(root) AS cluster_id FROM wlk GROUP BY 1), " +
        "border AS (SELECT n.id, min(comp.cluster_id) AS bcl FROM nb n " +
        "JOIN comp ON comp.id = n.nb GROUP BY 1) " +
        "SELECT p.id, coalesce(comp.cluster_id, border.bcl) AS cluster_id, " +
        "CASE WHEN comp.id IS NOT NULL THEN 'core' " +
        "WHEN border.id IS NOT NULL THEN 'border' ELSE 'noise' END AS kind " +
        "FROM pts p LEFT JOIN comp ON comp.id = p.id LEFT JOIN border ON border.id = p.id")),
    Gate("geo_zone_assign", (s, d) => {
      // geofencing: smallest-id containing rectangle per point (zones
      // overlap by design; min-id pins determinism), NULL outside all
      // zones — broadcast nested loop over the dim-sized zone catalog,
      // the fact side streams once
      val pts = geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L)
      import s.implicits._
      val zones = geoZones.toDF("zone_id", "x_lo", "x_hi", "y_lo", "y_hi")
      graft.operators.Geo.zoneAssign(pts, zones)
    },
      // brute cross join: the exactness oracle for the grid path
      (s"WITH ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)}, " +
        s"z(zone_id, x_lo, x_hi, y_lo, y_hi) AS (VALUES $geoZonesValues) " +
        "SELECT p.id, p.x, p.y, CAST(min(z.zone_id) AS BIGINT) AS zone_id " +
        "FROM pts p LEFT JOIN z ON p.x >= z.x_lo AND p.x <= z.x_hi " +
        "AND p.y >= z.y_lo AND p.y <= z.y_hi " +
        "GROUP BY 1, 2, 3")),
    Gate("geo_point_in_polygon", (s, d) =>
      // concave containment: exact integer ray casting — the polygon
      // compiles into the projection (one when-chain per edge, sign of
      // each edge's dy decided at plan time so nothing divides), zero
      // joins, zero shuffles; the notch in the pinned polygon is what
      // no rectangle catalog can express
      graft.operators.Geo.pointInPolygon(
        geoPoints(rd(s, d, "customer"), "c_custkey", 48271L, 69621L),
        geoPolygon),
      // same half-open straddle + cross-multiplied intersection test,
      // written generically (CASE on dy's sign) over the edge VALUES
      {
        // VALUES literals parse as INT32 in DuckDB — the x1·dy product
        // overflows there, so every edge term promotes to BIGINT first
        val cross = "CASE WHEN ((e.y1 <= p.y AND p.y < e.y2) OR (e.y2 <= p.y AND p.y < e.y1)) " +
          "AND (CASE WHEN e.y2 > e.y1 " +
          "THEN p.x * (e.y2 - e.y1) < CAST(e.x1 AS BIGINT) * (e.y2 - e.y1) + CAST(e.x2 - e.x1 AS BIGINT) * (p.y - e.y1) " +
          "ELSE p.x * (e.y2 - e.y1) > CAST(e.x1 AS BIGINT) * (e.y2 - e.y1) + CAST(e.x2 - e.x1 AS BIGINT) * (p.y - e.y1) END) " +
          "THEN 1 ELSE 0 END"
        s"WITH ${geoPtsCte("pts", "customer", "c_custkey", 48271L, 69621L)}, " +
          s"e(x1, y1, x2, y2) AS (VALUES $geoPolygonEdges) " +
          s"SELECT p.id, p.x, p.y, CAST(sum($cross) AS BIGINT) AS crossings, " +
          s"(sum($cross) % 2 = 1) AS inside " +
          "FROM pts p CROSS JOIN e GROUP BY 1, 2, 3"
      }),
    Gate("events_markov_stationary", (s, d) =>
      // steady state of the session chain: all data work is the
      // transition aggregate; the k x k matrix (k = 5 event types) is
      // a metadata-sized collect, 20 power iterations on the driver
      // with the pinned alphabetical left-to-right summation
      Events.markovStationary(rd(s, d, "events"), eventStates, iters = 20),
      OracleSql.markovStationary(
        eventStates, iters = 20)),
    Gate("events_markov_absorb", (s, d) =>
      // conversion probability from each entry state: chance the
      // session chain reaches 'purchase' within 20 steps — v_purchase
      // pinned at 1, every other component the unrolled fixed-tree
      // fold; substochastic rows absorb nothing
      Events.markovAbsorption(rd(s, d, "events"), eventStates,
        absorbing = "purchase", iters = 20),
      OracleSql.markovAbsorption(
        eventStates, absorbing = "purchase", iters = 20)),
    Gate("events_markov_steps", (s, d) =>
      // the funnel's other axis: expected steps a session wanders
      // before converting, truncated at the 20-step horizon —
      // v_purchase pinned at 0, every other component 1 + the
      // substochastic fold, unrolled verbatim in the oracle
      Events.markovSteps(rd(s, d, "events"), eventStates,
        absorbing = "purchase", iters = 20),
      OracleSql.markovSteps(
        eventStates, absorbing = "purchase", iters = 20)),
    Gate("incr_hll_maintain", (s, d) => {
      // O(delta) sketch maintenance: history registers merged with the
      // delta's registers by elementwise max — the oracle rebuilds
      // from ALL events, so a green row proves merge == full rebuild
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val hist = Sketches.hllRegisters(
        ev.filter(col("ts") < cutoff), "event_type", "user_id", 64)
      val delta = Sketches.hllRegisters(
        ev.filter(col("ts") >= cutoff), "event_type", "user_id", 64)
      hist.unionByName(delta).groupBy("event_type", "reg")
        .agg(max("max_rho").cast("int").as("max_rho"))
    },
      OracleSql.hllRegisters(64)),
    Gate("seq_seasonal_adjust", (s, d) => {
      // seasonal adjustment, integer-exact: daily revenue vs its
      // day-of-week mean — residual carried as the cross-multiplied
      // numerator cents·n_dow − sum_dow (no float division anywhere),
      // positive = above the weekday's norm. The corpus collapses to
      // the daily series first; the dow profile is a 7-row broadcast
      val daily = rd(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      // Spark dayofweek is 1=Sunday, DuckDB's dow() is 0=Sunday —
      // both sides emit the 0-based convention (the heatmap alignment)
      val dowd = daily.withColumn("dow", dayofweek(col("day")) - 1)
      val prof = dowd.groupBy("dow")
        .agg(count(lit(1)).as("n_dow"), sum(col("cents")).as("sum_dow"))
      dowd.join(broadcast(prof), Seq("dow"))
        .select(col("day"), col("dow").cast("long").as("dow"),
          col("cents"), col("n_dow"), col("sum_dow"),
          (col("cents") * col("n_dow") - col("sum_dow")).as("resid_num"))
    },
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM orders GROUP BY 1), " +
        "dw AS (SELECT day, CAST(date_part('dow', day) AS BIGINT) AS dow, cents FROM daily), " +
        "prof AS (SELECT dow, count(*) AS n_dow, CAST(sum(cents) AS BIGINT) AS sum_dow FROM dw GROUP BY 1) " +
        "SELECT dw.day, dw.dow, dw.cents, prof.n_dow, prof.sum_dow, " +
        "CAST(dw.cents * prof.n_dow - prof.sum_dow AS BIGINT) AS resid_num " +
        "FROM dw JOIN prof ON prof.dow = dw.dow")),
    Gate("q_rolling_quantile", (s, d) =>
      // the p50/p90-over-trailing-7-days dashboard from mergeable
      // daily grid histograms: one combinable daily (type, day, cell)
      // count is the only data-sized pass; the rolling merge is a
      // RANGE-frame sum on the calendar x cells grid and the quantile
      // reads off each day's cumulative cells by the exact integer
      // rank rule — GridQuantileAgg's CRDT merge applied on the time
      // axis, the rolling-HLL discipline for quantiles
      graft.operators.Quantiles.rollingGridQuantile(
        rd(s, d, "events"), "event_type", to_date(col("ts")),
        round(col("value") * 100).cast("long"),
        gridLo, gridWidth, gridBins, windowDays = 7,
        probes = Seq((1, 2, "p50_hi"), (9, 10, "p90_hi"))),
      // same grid, rolled on the time axis: dense calendar x cells grid,
      // RANGE 6-preceding window, identical rank rule and upper edges
      ("WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        s"dd AS (SELECT event_type, day, LEAST(GREATEST((cents - $gridLo) // $gridWidth, 0), ${gridBins - 1}) AS b, " +
        "count(*) AS c FROM e GROUP BY 1, 2, 3), " +
        "days AS (SELECT DISTINCT event_type, day FROM dd), " +
        s"bins AS (SELECT unnest(generate_series(0, ${gridBins - 1})) AS b), " +
        "g AS (SELECT days.event_type, days.day, bins.b FROM days CROSS JOIN bins), " +
        "w AS (SELECT g.event_type, g.day, g.b, " +
        "sum(coalesce(dd.c, 0)) OVER (PARTITION BY g.event_type, g.b " +
        "ORDER BY date_diff('day', DATE '1970-01-01', g.day) " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS wc " +
        "FROM g LEFT JOIN dd ON dd.event_type = g.event_type AND dd.day = g.day AND dd.b = g.b), " +
        "cm AS (SELECT event_type, day, b, wc, " +
        "sum(wc) OVER (PARTITION BY event_type, day ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum, " +
        "sum(wc) OVER (PARTITION BY event_type, day) AS n FROM w), " +
        "p AS (SELECT event_type, day, CAST(max(n) AS BIGINT) AS n_window, " +
        "min(CASE WHEN cum * 2 >= n THEN b END) AS q50, " +
        "min(CASE WHEN cum * 10 >= n * 9 THEN b END) AS q90 " +
        "FROM cm WHERE n > 0 GROUP BY 1, 2) " +
        s"SELECT event_type, day, n_window, CAST($gridLo + (q50 + 1) * $gridWidth AS BIGINT) AS p50_hi, " +
        s"CAST($gridLo + (q90 + 1) * $gridWidth AS BIGINT) AS p90_hi FROM p")),
    Gate("incr_topk_maintain", (s, d) => {
      // O(delta) leaderboard maintenance: per-type top-3 users by MAX
      // cents — the monotone-boundary shape where topk(state ∪
      // delta-topk) is exact; the oracle rebuilds from ALL events, so
      // a green row proves merge == rebuild without history rescans
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val cents = round(col("value") * 100).cast("long")
      val empty = ev.select(col("event_type"), col("user_id"),
        cents.as("max_v")).limit(0)
      val state = Incremental.updateTopK(empty,
        ev.filter(col("ts") < cutoff), "event_type", "user_id", cents, k = 3)
      Incremental.updateTopK(
        state.select("event_type", "user_id", "max_v"),
        ev.filter(col("ts") >= cutoff), "event_type", "user_id", cents, k = 3)
    },
      // full rebuild over ALL events == the O(delta) topk merge
      ("WITH m AS (SELECT event_type, user_id, " +
        "max(CAST(round(value * 100) AS BIGINT)) AS max_v FROM events GROUP BY 1, 2) " +
        "SELECT event_type, CAST(rnk AS INT) AS rnk, user_id, max_v FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY max_v DESC, user_id) AS rnk FROM m) " +
        "WHERE rnk <= 3")),
    Gate("q_sketch_quantiles", (s, d) => {
      // mergeable fixed-grid quantile sketch (GridQuantileAgg): ONE
      // combinable aggregate builds the per-type histogram (config-
      // pinned cells — no data-peek bounds pass, unlike
      // q_grid_quantiles), then p50/p90 read off the cumulative walk
      // in exact integers: est = upper edge of the first cell whose
      // cum·den >= n·num
      val sk = gridSketch(rd(s, d, "events"))
      val ex = sk.select(col("event_type"), col("n"),
        posexplode(col("counts")).as(Seq("b", "c")))
      val cum = ex.withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("b"))))
      def pick(num: Int, den: Int, name: String) =
        cum.filter(col("cum") * den >= col("n") * num)
          .groupBy("event_type", "n")
          .agg(min(col("b")).as("qb"))
          .select(col("event_type"), col("n"),
            (lit(gridLo) + (col("qb") + 1).cast("long") * gridWidth).as(name))
      pick(1, 2, "p50_hi").join(pick(9, 10, "p90_hi").drop("n"), Seq("event_type"))
    },
      // bit-exact replay of the GridQuantileAgg pipeline: same pinned
      // grid constants, floor-division bucket, integer rank rule
      // cum*den >= n*num, upper-edge estimate
      (s"WITH $gridBucketCte, " +
        "cm AS (SELECT event_type, b, c, " +
        "sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum, " +
        "sum(c) OVER (PARTITION BY event_type) AS n FROM h), " +
        "p AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n, " +
        "min(CASE WHEN cum * 2 >= n THEN b END) AS qb50, " +
        "min(CASE WHEN cum * 10 >= n * 9 THEN b END) AS qb90 FROM cm GROUP BY 1) " +
        s"SELECT event_type, n, CAST($gridLo + (qb50 + 1) * $gridWidth AS BIGINT) AS p50_hi, " +
        s"CAST($gridLo + (qb90 + 1) * $gridWidth AS BIGINT) AS p90_hi FROM p")),
    Gate("q_kll_quantiles", (s, d) =>
      // rank-error quantile sketch for UNBOUNDED domains (the grid
      // sketch needs known bounds): KLL-style geometric level sampling
      // derandomized by content hash, so the k-bounded state is a pure
      // function of the input multiset — merge-order-proof, replayed
      // bit-exact by the oracle from the same md5 draw
      kllEstimates(kllSketch(rd(s, d, "events"))),
      // bit-exact replay of the hash-rank (derandomized-KLL) sketch: same
      // md5 trailing-zero draw, same min-level selection, same survivor
      // integer-rank picks
      kllOracleSql),
    Gate("incr_kll_maintain", (s, d) => {
      // O(delta) maintenance of the hash-rank sketch: yesterday's
      // materialized states merge with the delta's — union survivors,
      // re-select the level, re-filter — WITHOUT touching history
      // rows; the oracle rebuilds from ALL events, so a green row
      // proves merge == full rebuild exactly
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val parts = kllStates(kllSketch(ev.filter(col("ts") < cutoff)))
        .unionByName(kllStates(kllSketch(ev.filter(col("ts") >= cutoff))))
      graft.operators.Quantiles.hashRankReadout(
        graft.operators.Quantiles.mergeHashRankStates(parts, "event_type", kllK),
        "event_type")
    },
      // full rebuild over ALL events == the hist+delta sketch-state merge
      kllOracleSql),
    Gate("stream_kll_replay", (s, d) => {
      // the hash-rank sketch state under the crash-replay harness
      // (Streams.foldKllBatch): four event_id-modulo batches fold into
      // the persisted per-type state by the EXACT multiset merge,
      // batch 2 replays with poisoned values and must be stamp-skipped,
      // and the final readout equals the one-pass rebuild oracle
      kllStreamFold(s, d)
    },
      // the four-batch replayed fold must land on the same rebuild
      kllOracleSql),
    Gate("dq_numeric_ks_binned", (s, d) => {
      // the histogram-first KS remedy numericDriftKs documents for
      // unbounded value cardinality, gated: both snapshots bucket into
      // the pinned grid's clamped cells and the exact-integer CDF gap
      // runs on <= 64 rows regardless of corpus size
      val ev = rd(s, d, "events")
        .select(col("ts"), round(col("value") * 100).cast("long").as("cents"))
      val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
      graft.operators.Quality.numericDriftKsBinned(
        ev.filter(col("ts") < cutoff), ev.filter(col("ts") >= cutoff),
        "cents", gridLo, gridWidth, gridBins)
    },
      // binned two-sample KS: pinned-grid clamped buckets, exact integer
      // CDF gap, argmax bucket (smallest on ties)
      ("WITH e AS (SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents FROM events " +
        "WHERE value IS NOT NULL), " +
        s"b AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 0 ELSE 1 END AS side, " +
        s"LEAST(GREATEST((cents - $gridLo) // $gridWidth, 0), ${gridBins - 1}) AS bkt FROM e), " +
        "c AS (SELECT bkt, CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS ca, " +
        "CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS cb FROM b GROUP BY 1), " +
        "m AS (SELECT bkt, CAST(sum(ca) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma, " +
        "CAST(sum(cb) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb FROM c), " +
        "t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM c) " +
        "SELECT na AS n_a, nb AS n_b, CAST(abs(cuma * nb - cumb * na) AS BIGINT) AS ks_num, " +
        "bkt AS at_bucket FROM m CROSS JOIN t " +
        "ORDER BY abs(cuma * nb - cumb * na) DESC, bkt LIMIT 1")),
    Gate("dq_schema_drift", (s, d) => {
      // upstream-feed contract check: old vs regenerated snapshot —
      // a dropped column, an added flag, a type change (custkey now
      // arrives stringly) and a null-rate shift (status nulled where
      // it read 'F') all land in one metadata-sized report
      val o = rd(s, d, "orders")
      val oldSnap = o.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val newSnap = o.select(col("o_orderkey"),
        col("o_custkey").cast("string").as("o_custkey"),
        nullif(col("o_orderstatus"), lit("F")).as("o_orderstatus"),
        col("o_totalprice"),
        (col("o_orderkey") % 2 === 0).as("o_flag"))
      graft.operators.Quality.schemaDriftReport(oldSnap, newSnap)
    },
      // schema drift: column presence/type facts are VALUES literals
      // (the contract the Spark side reads off its schema); the one
      // data-dependent number — the new snapshot's status null rate —
      // is computed honestly from the nullif('F') rule
      ("WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS nf FROM orders), " +
        "olds(col_name, type_old) AS (VALUES ('o_orderkey','bigint'),('o_custkey','bigint')," +
        "('o_orderstatus','string'),('o_totalprice','double'),('o_orderpriority','string')), " +
        "news(col_name, type_new) AS (VALUES ('o_orderkey','bigint'),('o_custkey','string')," +
        "('o_orderstatus','string'),('o_totalprice','double'),('o_flag','boolean')) " +
        "SELECT coalesce(o.col_name, w.col_name) AS col_name, " +
        "CASE WHEN o.col_name IS NULL THEN 'added' WHEN w.col_name IS NULL THEN 'dropped' " +
        "WHEN o.type_old <> w.type_new THEN 'type_changed' ELSE 'kept' END AS status, " +
        "o.type_old, w.type_new, " +
        "CASE WHEN o.col_name IS NULL THEN CAST(NULL AS BIGINT) ELSE CAST(0 AS BIGINT) END AS null_ppm_old, " +
        "CASE WHEN w.col_name IS NULL THEN CAST(NULL AS BIGINT) " +
        "WHEN w.col_name = 'o_orderstatus' THEN (SELECT nf * 1000000 // n FROM n) " +
        "ELSE CAST(0 AS BIGINT) END AS null_ppm_new " +
        "FROM olds o FULL OUTER JOIN news w ON o.col_name = w.col_name")),
    Gate("seq_subseq_k", (s, d) =>
      // PrefixSpan-at-length-k (the triple trick doesn't extend): one
      // greedy earliest-completion fold per user timeline decides
      // existence for each pinned pattern — O(|timeline|·k) per user,
      // no candidate subsequences, strict-time chaining both engines
      // replay identically
      Events.subsequenceSupportK(rd(s, d, "events"), seqPatternsK),
      // chained greedy mins per pattern == the per-user timeline fold
      seqSubseqKOracleSql),
    Gate("seq_subseq_gap", (s, d) =>
      // the MAX-GAP variant: adjacent steps within 48 h. Greedy is not
      // exact under a gap bound, so this is the set-valued DP as k-1
      // deduplicated range joins — frontier size bounded by the pinned
      // types' row counts, never path multiplicity
      Events.subsequenceSupportGap(rd(s, d, "events"), seqPatternsGap, seqGapUs),
      // DISTINCT-frontier DP chain, unrolled per pattern
      seqSubseqGapOracleSql),
    Gate("dq_t_closeness", (s, d) =>
      // the third privacy rung after k-anonymity and l-diversity: a
      // large, diverse cohort can still leak by SKEW — exact-integer
      // 1-D earth-mover's distance of each cohort's balance-band
      // distribution vs the global one, thresholded by ppm
      // cross-multiplication in decimal (no floats anywhere)
      graft.operators.Quality.tClosenessReport(
        rd(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 200000"),
        tPpm = 120000L),
      // exact-integer 1-D EMD per cohort vs global, HUGEINT ppm threshold
      ("WITH base AS (SELECT c_mktsegment AS s, c_nationkey AS nk, " +
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000 AS v " +
        "FROM customer WHERE c_acctbal IS NOT NULL), " +
        "cv AS (SELECT s, nk, v, count(*) AS cc FROM base GROUP BY 1, 2, 3), " +
        "gv AS (SELECT v, count(*) AS gc FROM base GROUP BY 1), " +
        "co AS (SELECT s, nk, CAST(sum(cc) AS BIGINT) AS n_rows FROM cv GROUP BY 1, 2), " +
        "t AS (SELECT CAST(sum(gc) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS m FROM gv), " +
        "g AS (SELECT co.s, co.nk, co.n_rows, gv.v, gv.gc, coalesce(cv.cc, 0) AS cc " +
        "FROM co CROSS JOIN gv LEFT JOIN cv ON cv.s = co.s AND cv.nk = co.nk AND cv.v = gv.v), " +
        "w AS (SELECT s, nk, n_rows, v, " +
        "CAST(sum(cc) OVER (PARTITION BY s, nk ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc, " +
        "CAST(sum(gc) OVER (PARTITION BY s, nk ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumg FROM g) " +
        "SELECT s AS c_mktsegment, nk AS c_nationkey, n_rows, n_total, m AS m_values, " +
        "CAST(sum(abs(cumc * n_total - cumg * n_rows)) AS BIGINT) AS emd_num, " +
        "CAST(sum(abs(cumc * n_total - cumg * n_rows)) AS HUGEINT) * 1000000 <= " +
        "CAST(120000 AS HUGEINT) * n_rows * n_total * (m - 1) AS meets_t " +
        "FROM w CROSS JOIN t GROUP BY 1, 2, 3, 4, 5")),
    Gate("incr_gridq_maintain", (s, d) => {
      // O(delta) quantile-sketch maintenance: yesterday's materialized
      // grid sketch merges with the delta's by elementwise count
      // addition (the CRDT property config-pinned cells buy) — the
      // oracle rebuilds the histogram from ALL events, so a green row
      // proves merge == full rebuild without touching history rows
      val ev = rd(s, d, "events")
      val cutoff = to_timestamp(lit("2024-01-28 00:00:00"))
      val hist = gridSketch(ev.filter(col("ts") < cutoff))
      val delta = gridSketch(ev.filter(col("ts") >= cutoff))
      hist.unionByName(delta)
        .select(col("event_type"), posexplode(col("counts")).as(Seq("b", "c")))
        .groupBy("event_type", "b")
        .agg(sum(col("c")).as("cnt"))
        .where(col("cnt") > 0)
        .select(col("event_type"), col("b").cast("long").as("b"), col("cnt"))
    },
      // full rebuild over ALL events == the Spark side's hist+delta merge
      (s"WITH $gridBucketCte SELECT event_type, b, CAST(c AS BIGINT) AS cnt FROM h")),
    Gate("seq_pattern_regex", (s, d) =>
      // sequence pattern mining over per-user initial-encoded event
      // strings: strict view->purchase adjacency vs "<=2 click/error
      // detours allowed" — the MATCH_RECOGNIZE-shaped question
      Events.eventPatternCounts(rd(s, d, "events"), Seq(
        "n_strict" -> "vp",
        "n_funnel" -> "v[ce]{0,2}p"), eventStates),
      ("WITH seqs AS (SELECT user_id, count(*) AS n_events, " +
        "string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq " +
        "FROM events GROUP BY 1) " +
        "SELECT user_id, n_events, " +
        "CAST(len(regexp_extract_all(seq, 'vp')) AS INT) AS n_strict, " +
        "CAST(len(regexp_extract_all(seq, 'v[ce]{0,2}p')) AS INT) AS n_funnel " +
        "FROM seqs")),
    Gate("seq_subseq_support", (s, d) =>
      // PrefixSpan-at-fixed-length: per pinned triple, how many users
      // exhibit a-then-b-then-c as a gap-tolerant SUBSEQUENCE — the
      // existence test is one EXISTS lambda over the middle type's
      // sorted timestamps against first(a)/last(c), never a candidate
      // explosion; unsupported triples emit 0
      Events.subsequenceSupport(rd(s, d, "events"), seqTriples),
      {
        val types = seqTriples.flatMap(t => Seq(t._1, t._2, t._3)).distinct
          .map(t => s"'$t'").mkString(", ")
        val vals = seqTriples.map { case (a, b, c) => s"('$a', '$b', '$c')" }
          .mkString(", ")
        "WITH pu AS (SELECT user_id, event_type, " +
          "min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us, " +
          "list_sort(list(epoch_us(ts))) AS tsl FROM events " +
          s"WHERE event_type IN ($types) GROUP BY 1, 2), " +
          s"tr(a, b, c) AS (VALUES $vals), " +
          "tot AS (SELECT count(DISTINCT user_id) AS n_users FROM events), " +
          "sup AS (SELECT tr.a, tr.b, tr.c, count(*) AS n_support FROM tr " +
          "JOIN pu pa ON pa.event_type = tr.a " +
          "JOIN pu pb ON pb.user_id = pa.user_id AND pb.event_type = tr.b " +
          "JOIN pu pc ON pc.user_id = pa.user_id AND pc.event_type = tr.c " +
          "WHERE len(list_filter(pb.tsl, x -> x > pa.first_us AND x < pc.last_us)) > 0 " +
          "GROUP BY 1, 2, 3) " +
          "SELECT tr.a, tr.b, tr.c, CAST(coalesce(n_support, 0) AS BIGINT) AS n_support, " +
          "CAST(n_users AS BIGINT) AS n_users, " +
          "CAST(coalesce(n_support, 0) * 1000000 // n_users AS BIGINT) AS support_ppm " +
          "FROM tr LEFT JOIN sup ON sup.a = tr.a AND sup.b = tr.b AND sup.c = tr.c " +
          "CROSS JOIN tot"
      }),
    Gate("stat_kendall_tau", (s, d) =>
      // monotone-trend test on 1998's daily revenue: exact integer
      // concordant/discordant/tied pair counts over the calendar²-
      // bounded pair table (tau-b's division/sqrt left rational)
      graft.operators.Stats.kendallTau(rd(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1998)
        .groupBy(datediff(to_date(col("o_orderdate")),
          to_date(lit("1998-01-01"))).as("x"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))),
      // exact pair counts over the same daily series; tau left rational
      ("WITH daily AS (SELECT date_diff('day', DATE '1998-01-01', CAST(o_orderdate AS DATE)) AS x, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y " +
        "FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1), " +
        "p AS (SELECT a.y AS ya, b.y AS yb FROM daily a JOIN daily b ON a.x < b.x) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days, " +
        "CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(sum(CASE WHEN ya < yb THEN 1 ELSE 0 END) AS BIGINT) AS concordant, " +
        "CAST(sum(CASE WHEN ya > yb THEN 1 ELSE 0 END) AS BIGINT) AS discordant, " +
        "CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ties_y FROM p")),
    Gate("mor_view_asof", (s, d) => {
      // time travel on the PARTITIONED MoR chain: the view AS OF
      // batch 2 (U3 not yet applied) resolved from the chain prefix —
      // cost identical to a current read, partition pruning intact;
      // retention = the uncompacted window (pre-stamp delta files read
      // as batch -1, so only stamped chains time-travel)
      val (dir, tbl) = morPartTable(s, d, compactAfterBatch2 = false)
      graft.sources.MergeOnRead.readViewAsOf(s, dir, tbl, asOfBatch = 2L)
    },
      // the chain prefix resolved like the full view — U3 absent
      morAsOfOracleSql),
    Gate("stat_theil_sen", (s, d) =>
      // robust trend of 1998's daily revenue: exact median-of-slopes
      // over the calendar²-bounded pair table; the corpus collapses
      // to <=365 rows before any quadratic work
      graft.operators.Stats.theilSen(rd(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1998)
        .groupBy(datediff(to_date(col("o_orderdate")),
          to_date(lit("1998-01-01"))).as("x"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))),
      graft.operators.Stats.theilSenSql(
        "series AS (SELECT date_diff('day', DATE '1998-01-01', CAST(o_orderdate AS DATE)) AS x, " +
          "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y " +
          "FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1)")),

    Gate("q_interval_merge", (s, d) => {
      // merge overlapping variable-length intervals per user (stay =
      // [ts, ts + (event_id%120+1) min]): running-max-end island
      // detection — unlike fixed-gap sessionization, a long interval
      // can swallow many short ones that follow it
      val iv = rd(s, d, "events").select(col("user_id"), col("event_id"),
        col("ts").as("ivl_start"),
        (col("ts") + expr("make_interval(0, 0, 0, 0, 0, CAST(event_id % 120 + 1 AS INT), 0)"))
          .as("ivl_end"))
      val wPrev = Window.partitionBy("user_id")
        .orderBy(col("ivl_start"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("ivl_start"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("__new",
          when(col("ivl_start") > max(col("ivl_end")).over(wPrev), 1L)
            .otherwise(when(max(col("ivl_end")).over(wPrev).isNull, 1L)
              .otherwise(0L)))
        .withColumn("island", sum("__new").over(wRun))
        .groupBy("user_id", "island")
        .agg(min("ivl_start").as("merged_start"),
          max("ivl_end").as("merged_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "island", "merged_start", "merged_end", "n_events")
    },
      ("WITH iv AS (SELECT user_id, event_id, ts AS ivl_start, " +
        "ts + (event_id % 120 + 1) * INTERVAL 1 MINUTE AS ivl_end FROM events), " +
        "flag AS (SELECT user_id, event_id, ivl_start, ivl_end, " +
        "CASE WHEN max(ivl_end) OVER (PARTITION BY user_id ORDER BY ivl_start, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL THEN 1 " +
        "WHEN ivl_start > max(ivl_end) OVER (PARTITION BY user_id ORDER BY ivl_start, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS newi FROM iv), " +
        "isl AS (SELECT user_id, ivl_start, ivl_end, " +
        "CAST(sum(newi) OVER (PARTITION BY user_id ORDER BY ivl_start, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM flag) " +
        "SELECT user_id, island, min(ivl_start) AS merged_start, " +
        "max(ivl_end) AS merged_end, count(*) AS n_events " +
        "FROM isl GROUP BY 1, 2"))
  )

  /** Uniform $100k price bands covering the orders totalprice domain —
    * the dimension side of the range-join queries.
    */
  private def priceBands(s: SparkSession): DataFrame = {
    val rows = (0 to 4).map(i => (s"b$i", i * 100000.0, (i + 1) * 100000.0))
    s.createDataFrame(rows).toDF("band", "lo", "hi")
  }

  /** Shared by the `sample_hash_split` query and its oracle CASE. */
  /** Benford first-digit expectation on the ppm grid —
    * round(log10(1 + 1/d)·10⁶), precomputed so neither engine touches
    * a transcendental at query time; the SAME Seq generates the Spark
    * when-chain and the oracle CASE.
    */
  private val benfordPpm: Seq[(String, Int)] = Seq(
    "1" -> 301030, "2" -> 176091, "3" -> 124939, "4" -> 96910,
    "5" -> 79181, "6" -> 66947, "7" -> 57992, "8" -> 51153, "9" -> 45757)

  private val splitFractions: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** A/B experiment arms — the hashSplit stability contract applied to
    * assignment: pure function of salt+user, engine-portable, no
    * assignment table to join or keep consistent.
    */
  private val abArms: Seq[(String, Double)] = Seq("a" -> 0.5, "b" -> 0.5)

  /** The experiment-assignment table (user_id, arm), MATERIALIZED once
    * per content epoch under target/ — in production this IS a
    * long-lived table every readout joins, so the ab_* gates that read
    * it time their own statistic, not a repeated corpus distinct.
    * Content equals the in-plan hash split exactly (pure salt+user
    * function), which is what the oracles replay.
    */
  private def abArmsDf(s: SparkSession, d: String): DataFrame = {
    val (dir, tbl) = Artifacts.table(s, d, "ab_arms", rd(s, d, "events"), "user_id")(ev =>
      Sampling.hashSplit(ev.select(col("user_id")).distinct(), "user_id", "ab1", abArms, "arm"))
    graft.sources.Warehouse.read(s, dir, tbl)
  }

  /** Per-arm users/conversions, shared by the report query and the
    * z-test so the two cannot drift.
    */
  private def abCounts(s: SparkSession, d: String): DataFrame = {
    val ev = rd(s, d, "events")
    val arms = Sampling.hashSplit(
      ev.select(col("user_id")).distinct(), "user_id", "ab1", abArms, "arm")
    // conversion = any HIGH-VALUE purchase (>= $90): every user in this
    // corpus makes some purchase, so plain purchase would be a
    // degenerate p = 1 experiment (pooled variance 0, z undefined)
    val conv = ev.filter(col("event_type") === "purchase" && col("value") >= 90)
      .select(col("user_id")).distinct().withColumn("__c", lit(1L))
    arms.join(conv, Seq("user_id"), "left")
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"), count(col("__c")).as("n_conv"))
  }

  /** Tukey-fence outlier profile; one SQL text for both engines (only
    * the table name differs), so query and oracle cannot drift.
    */
  private def outlierSql(table: String): String =
    s"WITH q AS (SELECT event_type, " +
      "percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25, " +
      s"percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS p75 FROM $table GROUP BY event_type) " +
      s"SELECT e.event_type, count(*) AS n, " +
      "count(CASE WHEN e.value < q.p25 - CAST(1.5 AS DOUBLE) * (q.p75 - q.p25) " +
      "OR e.value > q.p75 + CAST(1.5 AS DOUBLE) * (q.p75 - q.p25) THEN 1 END) AS n_outliers, " +
      "min(q.p25) AS p25, min(q.p75) AS p75 " +
      s"FROM $table e JOIN q ON q.event_type = e.event_type GROUP BY e.event_type"

  /** Median/MAD robust outlier SQL — one text, both engines. Two
    * percentile passes (median, then median absolute deviation) and a
    * final count of |x − med| beyond 3.5/0.6745 MADs; every double op
    * is the same fixed expression tree on both sides.
    */
  private def robustMadSql(table: String): String =
    s"WITH med AS (SELECT event_type, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med " +
      s"FROM $table GROUP BY event_type), " +
      "dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad " +
      s"FROM $table e JOIN med m ON m.event_type = e.event_type), " +
      "mad AS (SELECT event_type, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) AS mad " +
      "FROM dev GROUP BY event_type) " +
      "SELECT d.event_type, count(*) AS n, min(d.med) AS med, min(a.mad) AS mad, " +
      "count(CASE WHEN a.mad > CAST(0 AS DOUBLE) AND " +
      "CAST(0.6745 AS DOUBLE) * d.ad / a.mad > CAST(3.5 AS DOUBLE) THEN 1 END) AS n_outliers " +
      "FROM dev d JOIN mad a ON a.event_type = d.event_type GROUP BY d.event_type"

  /** Winsorized-mean SQL — one text, both engines. Clamping happens on
    * integer cents so the clamped sum is exact; the mean is the single
    * double division at the end.
    */
  private def winsorizedSql(table: String): String =
    s"WITH u AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS units FROM $table), " +
      "b AS (SELECT event_type, percentile_disc(0.05) WITHIN GROUP (ORDER BY units) AS p05, " +
      "percentile_disc(0.95) WITHIN GROUP (ORDER BY units) AS p95 FROM u GROUP BY event_type), " +
      "w AS (SELECT u.event_type, b.p05, b.p95, " +
      "CASE WHEN u.units < b.p05 THEN b.p05 WHEN u.units > b.p95 THEN b.p95 ELSE u.units END AS wu " +
      "FROM u JOIN b ON b.event_type = u.event_type) " +
      "SELECT event_type, count(*) AS n, CAST(min(p05) AS BIGINT) AS p05, " +
      "CAST(min(p95) AS BIGINT) AS p95, CAST(sum(wu) AS BIGINT) AS sum_winsorized, " +
      "CAST(sum(wu) AS DOUBLE) / count(*) AS winsorized_mean " +
      "FROM w GROUP BY event_type"

  /** One oracle for both range-join paths — the generic band join and
    * its equi rewrite must agree with the same declarative SQL.
    */
  private val bandJoinOracle: String =
    "SELECT b.band, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS sum_price " +
      "FROM orders o JOIN (VALUES ('b0', 0.0, 100000.0), ('b1', 100000.0, 200000.0), " +
      "('b2', 200000.0, 300000.0), ('b3', 300000.0, 400000.0), ('b4', 400000.0, 500000.0)) " +
      "b(band, lo, hi) ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi GROUP BY b.band"

  // ------------------------------------------------------------- oracle SQL

  /** Occurrence count of a literal pattern — same integer arithmetic as
    * [[graft.functions.occurrences]].
    */
  private def occSql(expr: String, pat: String): String = {
    val esc = pat.replace("'", "''")
    s"CAST((length($expr) - length(replace($expr, '$esc', ''))) / ${pat.length} AS INT)"
  }

  /** Shared CTE chain: word trigram sets → pair overlaps → thresholded
    * pairs (integer cross-multiplication, bit-exact in both engines).
    * Hash-seeded operators get full algorithm-replay oracles from
    * [[OracleSql]].
    */
  private def ngramCtes: String = OracleSql.ngramPairCtes(1, 20)

  /** KN bigram-LM CTE chain (bg/bc/ctx/cont/t/lm) shared by the doc-LM
    * score oracle and the curation-v3 composition oracle.
    */
  private def knLmCtes: String =
    "bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM " +
      "(SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]} for i in range(1, len(toks))]) AS b " +
      "FROM (SELECT doc_id, [t for t in string_split_regex(lower(trim(text)), '\\s+') if t <> ''] AS toks FROM documents))), " +
      "bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2), " +
      "ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS nf FROM bc GROUP BY 1), " +
      "cont AS (SELECT w2, count(*) AS np FROM bc GROUP BY 1), " +
      "t AS (SELECT count(*) AS tt FROM bc), " +
      "lm AS (SELECT bc.w1, bc.w2, CAST((4 * c12 - 3) * 1000000 // (4 * c1) " +
      "+ 3 * nf * np * 1000000 // (4 * c1 * tt) AS BIGINT) AS kn_ppm " +
      "FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN t)"

  private def langIdSql: String = {
    val scores = TextAnalysis.langOrder.map { l =>
      val words = TextAnalysis.stopwords(l)
      words.map(w => occSql("p", s" $w ")).mkString("(", " + ", s") AS score_$l")
    }.mkString(", ")
    val greatestExpr =
      TextAnalysis.langOrder.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val cases = TextAnalysis.langOrder.init
      .map(l => s"WHEN score_$l = $greatestExpr THEN '$l'")
      .mkString(" ")
    s"WITH pad AS (SELECT doc_id, lang, ' ' || lower(trim(text)) || ' ' AS p FROM documents), " +
      s"sc AS (SELECT doc_id, lang, $scores FROM pad) " +
      s"SELECT doc_id, lang, CASE $cases ELSE '${TextAnalysis.langOrder.last}' END AS pred_lang FROM sc"
  }
}
