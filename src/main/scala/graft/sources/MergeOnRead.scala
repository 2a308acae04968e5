package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.{Merge, MergeSpec}

/** Merge-on-read keyed table: an immutable BASE plus an ordered chain
  * of compact DELTA files, reconciled at read time — the lake-scale
  * upgrade of [[Warehouse]]'s copy-on-write paths.
  *
  * Why: every copy-on-write merge ([[Merge.scd1PartitionScoped]],
  * [[Warehouse.overwritePartitions]]) rewrites whole touched
  * partitions — a 10-row late-arriving correction to one partition
  * still rewrites that partition end to end. Here a merge appends ONLY
  * the post-merge row images of the touched keys (write I/O = O(changed
  * rows), not O(partition)), and the read view reconciles
  * base − superseded + latest-delta in one anti-join — the Hudi MoR /
  * Iceberg merge-on-read shape, built on the same primitives the rest
  * of the warehouse uses.
  *
  * Layout under `dir`:
  * {{{
  *   <table>.morbase/<gen>/        immutable base generations (parquet;
  *                                 partitioned tables: partCol=... dirs)
  *   <table>.mordelta/<seq>/       immutable delta files (post-merge images)
  *   <table>.mordelta/<seq>.claim  create-exclusive writer claims
  *   <table>.morbloom/<gen>/       optional per-file Bloom manifest
  *   <table>.mor                   one-line manifest (atomic rename-replace)
  * }}}
  *
  * The manifest is the single commit point, replaced like
  * [[Warehouse.Pointer]]'s pointer file: readers resolve base
  * generation(s) + delta range atomically, and every referenced
  * directory is immutable — no crash window, nothing to heal. A crash
  * after a delta/base write but before its manifest commit leaves an
  * unreferenced directory that the next write at that position
  * overwrites.
  *
  * ==Partition-scoped tables==
  *
  * [[initPartitioned]] lays the base out directory-partitioned on a
  * partition column and records a per-partition map
  * (value → generation → rows) in the manifest. [[compact]] then folds
  * ONLY the DIRTY partitions — those the live delta chain touches —
  * into the next generation; clean partitions are never read, copied,
  * or rewritten (their manifest entries keep pointing at the older
  * generation). That closes the scale gap of flat compaction, which is
  * O(table) regardless of how few keys the chain touched: at 100 TB a
  * chain touching 3 of 1000 date partitions compacts in I/O
  * proportional to those 3. Read fan-in (generations referenced by the
  * map) is bounded by `maxGenerations`: a compaction that would exceed
  * it folds everything — the rare, amortized full rewrite.
  *
  * Partition contract (same as [[Merge.scd1PartitionScoped]]): a key's
  * partition value never changes — the canonical layout where the
  * partition derives from an immutable attribute of the key
  * (date-partitioned facts). Upsert sources SHOULD carry the partition
  * column (direct partition pruning; REQUIRED for inserts); update-only
  * sources without it are ROUTED by a column-pruned key probe (the scan
  * reads only key + partition columns) and then prune identically.
  * Delete key-sets MUST carry it (a tombstone is routed by it).
  *
  * ==Concurrency==
  *
  * Writers are serialized by create-exclusive CLAIM files on the next
  * delta sequence: a writer that loses the claim race re-reads the
  * manifest and retries on the fresh state, and a claim held by a
  * crashed or still-running peer fails the second writer LOUDLY
  * ([[ConcurrentWriterException]]) instead of silently dropping a
  * commit (rename-replace alone is last-writer-wins). After a confirmed
  * writer crash, [[releaseStaleClaims]] reclaims uncommitted claims.
  *
  * Batch-id idempotence rides the manifest: [[deltaMerge]] carries the
  * caller's monotone `batchId`, and a crash-replayed batch (id ≤ the
  * committed one) is recognized and skipped — the same at-least-once
  * stamp discipline as the `stream_*_replay` folds, here covering the
  * merge path itself.
  *
  * Semantics: each delta holds the FULLY-RESOLVED row image per touched
  * key, computed by the ordinary [[Merge.scd1]] against the then-
  * current read view restricted to the source's keys — so ANY MergeSpec
  * (updateCols subsets, audit stamps, touchCols) reconciles exactly to
  * the eager copy-on-write result under last-writer-wins per key.
  * `nullSafeKeys` is rejected (the reconcile anti-join is null-strict);
  * the source must be UNIQUE on the merge keys, and [[deltaMerge]]
  * verifies that with one batch-sized aggregate (duplicate key images
  * inside one delta would make the latest-image window nondeterministic).
  *
  * Scale shape of [[readView]]: the base is scanned once and NEVER
  * shuffled — superseded keys drop via an anti-join on the live delta
  * keys. The delta side broadcasts while the chain's on-disk bytes stay
  * under `broadcastDeltaBytesLimit` (a filesystem-metadata check, zero
  * jobs); past it the anti-join runs as a shuffled join — slower, but a
  * plan change instead of a driver OOM when compaction falls behind.
  */
object MergeOnRead {

  /** A second writer raced this one and neither can proceed safely —
    * the single-writer contract, enforced instead of implicit. Retry
    * after the peer commits, or [[releaseStaleClaims]] after a
    * confirmed crash.
    */
  final class ConcurrentWriterException(msg: String) extends RuntimeException(msg)

  /** Names that survive the ';'/'='/','-delimited manifest line and
    * directory encoding without escaping — the same discipline the
    * warehouse uses for directory names.
    */
  private val SafeName = "[A-Za-z0-9._-]+".r
  private def requireSafe(kind: String, names: Seq[String]): Unit =
    names.foreach(n => require(SafeName.matches(n),
      s"$kind '$n' must match [A-Za-z0-9._-]+ (manifest/directory encoding)"))

  /** The reserved internal column namespace ([[DelMarker]], [[BatchCol]],
    * `__mor_seq`) — a data or evolved column landing here would silently
    * corrupt tombstone/batch-stamp/latest-image resolution on every
    * later read, so creation and evolution both reject it.
    */
  private def requireNotReserved(kind: String, names: Seq[String]): Unit =
    names.foreach(n => require(!n.startsWith("__mor_"),
      s"$kind '$n' collides with the reserved __mor_* internal columns"))

  private def enc(v: String): String = java.net.URLEncoder.encode(v, "UTF-8")
  private def dec(v: String): String = java.net.URLDecoder.decode(v, "UTF-8")

  /** Undo Spark's partition-directory escaping (%XX hex pairs only —
    * unlike URL decoding, a literal '+' is NOT a space here).
    */
  private def unescapePartitionDir(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Default reconcile-broadcast bound: live delta chains under this
    * many on-disk bytes broadcast their key set; larger chains fall
    * back to a shuffled anti-join (see class doc).
    */
  val BroadcastDeltaBytesDefault: Long = 256L << 20

  /** Merge-path bound on broadcasting the SOURCE key set (the routing
    * probe and the final slice semi-join): a source isn't on disk, so
    * the guard is the distinct-key ROW count — free, because
    * [[deltaMerge]]'s key-uniqueness aggregate already computes it. Key
    * sets at or under this many rows broadcast; a backfill-sized batch
    * past it runs the same joins shuffled — a plan change instead of a
    * driver OOM, exactly the [[BroadcastDeltaBytesDefault]] discipline.
    */
  val BroadcastSourceKeyRowsDefault: Long = 4L << 20

  /** One-line manifest. Core fields are round-1 compatible; the
    * optional fields below parse as empty/unknown from older manifests
    * on disk:
    *
    *   - `deltaRows`: per-live-delta row counts, trusted only when
    *     aligned with the live chain — makes [[compact]]'s ratio guard
    *     and [[deltaRowCounts]] metadata-only (no per-delta count jobs
    *     on the hot streaming path).
    *   - `baseRows`: total base rows (−1 = unknown → counted on demand).
    *   - `partCol`/`partType`/`cols`: partition-scoped layout (column,
    *     its Spark type for exact round-trip through directory
    *     encoding, and the data column order, which a partitioned read
    *     would otherwise lose).
    *   - `pmap`: (partition value, generation, rows) — which generation
    *     holds each partition's live copy. Values are URL-encoded so
    *     ANY string survives the line format.
    *   - `grace`: (generation, value) partition dirs displaced by the
    *     LAST compaction, retained one cycle for in-flight readers and
    *     deleted by the next compaction.
    *   - `bloomBits`/`bloomHashes`: per-file Bloom manifest parameters
    *     (0 = no bloom index).
    */
  final case class Manifest(
      baseGen: Long, deltaFrom: Long, deltaTo: Long,
      lastBatch: Long, keys: Seq[String],
      deltaRows: Seq[Long] = Nil,
      baseRows: Long = -1L,
      partCol: Option[String] = None,
      partType: String = "string",
      cols: Seq[String] = Nil,
      schemaDdl: String = "",
      pmap: Seq[(String, Long, Long)] = Nil,
      grace: Seq[(Long, String)] = Nil,
      bloomBits: Int = 0,
      bloomHashes: Int = 0) {
    def deltaSeqs: Seq[Long] = deltaFrom to deltaTo
    /** Row counts are usable only when they track the live chain. */
    def rowsAligned: Boolean = deltaRows.size == deltaSeqs.size
    def serialize: String = {
      val core = s"base=$baseGen;from=$deltaFrom;to=$deltaTo;batch=$lastBatch;keys=${keys.mkString(",")}"
      val opt = Seq(
        if (rowsAligned && deltaRows.nonEmpty) s"rows=${deltaRows.mkString(",")}" else "",
        if (baseRows >= 0) s"baserows=$baseRows" else "",
        partCol.map(c => s"part=$c;parttype=$partType").getOrElse(""),
        if (cols.nonEmpty) s"cols=${cols.mkString(",")}" else "",
        if (schemaDdl.nonEmpty) s"schema=${enc(schemaDdl)}" else "",
        if (pmap.nonEmpty) s"pmap=${pmap.map { case (v, g, n) => s"${enc(v)}:$g:$n" }.mkString(",")}" else "",
        if (grace.nonEmpty) s"grace=${grace.map { case (g, v) => s"$g:${enc(v)}" }.mkString(",")}" else "",
        if (bloomBits > 0) s"bloom=$bloomBits:$bloomHashes" else ""
      ).filter(_.nonEmpty)
      (core +: opt).mkString(";")
    }
  }

  private def parseManifest(line: String): Manifest = {
    val kv = line.trim.split(";").map { p =>
      val Array(k, v) = p.split("=", 2); k -> v
    }.toMap
    Manifest(
      baseGen = kv("base").toLong,
      deltaFrom = kv("from").toLong,
      deltaTo = kv("to").toLong,
      lastBatch = kv("batch").toLong,
      keys = kv("keys").split(",").toSeq,
      deltaRows = kv.get("rows").map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toLong)).getOrElse(Nil),
      baseRows = kv.get("baserows").map(_.toLong).getOrElse(-1L),
      partCol = kv.get("part"),
      partType = kv.getOrElse("parttype", "string"),
      cols = kv.get("cols").map(_.split(",").toSeq).getOrElse(Nil),
      schemaDdl = kv.get("schema").map(dec).getOrElse(""),
      pmap = kv.get("pmap").map(_.split(",").toSeq.map { e =>
        val Array(v, g, n) = e.split(":", 3); (dec(v), g.toLong, n.toLong)
      }).getOrElse(Nil),
      grace = kv.get("grace").map(_.split(",").toSeq.map { e =>
        val Array(g, v) = e.split(":", 2); (g.toLong, dec(v))
      }).getOrElse(Nil),
      bloomBits = kv.get("bloom").map(_.split(":")(0).toInt).getOrElse(0),
      bloomHashes = kv.get("bloom").map(_.split(":")(1).toInt).getOrElse(0))
  }

  private def manifestPath(dir: String, table: String) = new Path(s"$dir/$table.mor")
  private def basePath(dir: String, table: String, gen: Long) =
    new Path(s"$dir/$table.morbase/$gen")
  private def deltaPath(dir: String, table: String, seq: Long) =
    new Path(s"$dir/$table.mordelta/$seq")
  private def claimPath(dir: String, table: String, seq: Long) =
    new Path(s"$dir/$table.mordelta/$seq.claim")
  private def bloomPath(dir: String, table: String, gen: Long) =
    new Path(s"$dir/$table.morbloom/$gen")

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String, table: String): Boolean =
    fsOf(spark, dir).exists(manifestPath(dir, table))

  def manifest(spark: SparkSession, dir: String, table: String): Manifest = {
    val fs = fsOf(spark, dir)
    // readers racing a commit retry briefly: the replace is atomic on
    // HDFS/posix-rename stores, but some filesystems implement
    // overwrite-rename as delete+rename with a microscopic absent
    // window
    var last: java.io.IOException = null
    var attempt = 0
    while (attempt < 5) {
      try {
        val in = fs.open(manifestPath(dir, table))
        val line = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        return parseManifest(line)
      } catch {
        case e: java.io.FileNotFoundException => last = e; attempt += 1; Thread.sleep(10)
      }
    }
    throw last
  }

  /** Atomic manifest commit ([[Warehouse.replaceFile]], the
    * [[Warehouse.Pointer]] protocol — a reader sees the old or the new
    * manifest, never an absent or partial one). Commit ORDER against
    * concurrent writers is serialized by the delta-seq claims, not by
    * this rename.
    */
  private def commit(spark: SparkSession, dir: String, table: String, m: Manifest): Unit =
    Warehouse.replaceFile(spark, manifestPath(dir, table), m.serialize + "\n")

  /** Count rows of freshly-written parquet — a footer-statistics job
    * (no data pages read), how writers record [[Manifest.deltaRows]] /
    * [[Manifest.baseRows]] at write time so later ratio checks are
    * metadata-only.
    */
  private def countWritten(spark: SparkSession, p: Path): Long =
    spark.read.parquet(p.toString).count()

  /** Create the table: base generation 1, empty delta chain. Single
    * writer (bootstrap is a batch concern); re-running replaces the
    * table. `bloomBits`/`bloomHashes` > 0 additionally build a per-file
    * Bloom manifest over the (single) key column, which [[deltaMerge]]
    * uses to open only base files that may contain a touched key.
    */
  def init(df: DataFrame, dir: String, table: String, keys: Seq[String],
      bloomBits: Int = 0, bloomHashes: Int = 4): Unit = {
    require(keys.nonEmpty, "merge-on-read tables are keyed")
    requireSafe("key column", keys)
    requireNotReserved("column", df.columns.toSeq)
    require(bloomBits == 0 || keys.size == 1,
      "the Bloom index covers single-key tables (composite keys: partition-scope instead)")
    val spark = df.sparkSession
    df.write.mode("overwrite").parquet(basePath(dir, table, 1L).toString)
    val n = countWritten(spark, basePath(dir, table, 1L))
    if (bloomBits > 0) writeBloom(spark, dir, table, 1L, keys.head, bloomBits, bloomHashes)
    commit(spark, dir, table, Manifest(1L, 1L, 0L, -1L, keys,
      baseRows = n, bloomBits = bloomBits, bloomHashes = if (bloomBits > 0) bloomHashes else 0))
  }

  /** Create a PARTITION-SCOPED table: base generation 1 laid out
    * `partCol=value` directory-partitioned, with the per-partition map
    * committed in the manifest. NULL partition values are rejected
    * (they have no directory identity). See the class doc for the
    * partition contract.
    */
  def initPartitioned(df: DataFrame, dir: String, table: String,
      keys: Seq[String], partCol: String): Unit = {
    require(keys.nonEmpty, "merge-on-read tables are keyed")
    requireSafe("key column", keys)
    requireSafe("partition column", Seq(partCol))
    requireSafe("column", df.columns.toSeq)
    requireNotReserved("column", df.columns.toSeq)
    require(df.columns.contains(partCol), s"partition column $partCol not in schema")
    val spark = df.sparkSession
    val gen = basePath(dir, table, 1L)
    df.write.mode("overwrite").partitionBy(partCol).parquet(gen.toString)
    val written = spark.read.parquet(gen.toString)
    require(written.where(col(partCol).isNull).isEmpty,
      s"partition column $partCol carries NULLs — no directory identity")
    val counts = written.groupBy(col(partCol).cast("string").as("__v"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getString(0), 1L, r.getLong(1))).toSeq.sortBy(_._1)
    val partType = df.schema(partCol).dataType.catalogString
    commit(spark, dir, table, Manifest(1L, 1L, 0L, -1L, keys,
      baseRows = counts.map(_._3).sum,
      partCol = Some(partCol), partType = partType,
      cols = df.columns.toSeq, schemaDdl = df.schema.toDDL, pmap = counts))
  }

  /** SCHEMA EVOLUTION — add columns to a live table, metadata-only.
    *
    * Nothing on disk is touched: the evolved schema commits to the
    * manifest, and every read path NULL-backfills files that predate it
    * ([[alignTo]]) — base generations, old delta images, change feeds
    * and time-travel reads all present the added columns as NULL until
    * a later merge populates them. Later [[compact]]s materialize the
    * columns physically as partitions/bases fold, so the backfill work
    * amortizes into writes that were happening anyway — the
    * add-column discipline every lake format converges on (at 100 TB a
    * backfilling rewrite is never acceptable as part of DDL).
    *
    * Drops and renames are intentionally NOT offered: a rename breaks
    * every reader contract silently, and a drop under merge-on-read
    * leaves the column live in old images — both belong in an explicit
    * copy ([[Warehouse]] rewrite), not a metadata flip.
    *
    * `addCols` are (name, Spark DDL type) pairs, e.g.
    * `("note", "string")`. Serialized against concurrent writers by the
    * same claim barrier as [[compact]].
    */
  def evolve(spark: SparkSession, dir: String, table: String,
      addCols: Seq[(String, String)]): Unit = {
    require(addCols.nonEmpty, "evolve adds at least one column")
    requireSafe("added column", addCols.map(_._1))
    requireNotReserved("added column", addCols.map(_._1))
    val added = org.apache.spark.sql.types.StructType.fromDDL(
      addCols.map { case (n, t) => s"$n $t" }.mkString(", ")) // rejects bad types
    val m = manifest(spark, dir, table)
    val cur = tableSchema(spark, dir, table, m)
    addCols.foreach { case (n, _) =>
      require(!cur.fieldNames.contains(n), s"$table already has column $n") }
    val barrier = m.deltaTo + 1
    if (!tryClaim(spark, dir, table, barrier))
      throw new ConcurrentWriterException(
        s"$table: evolve lost the barrier claim on delta seq $barrier — a writer is " +
          "appending; re-run evolve after it commits")
    try {
      // FULL-manifest re-verify under the claim: a deltaTo/lastBatch
      // check alone would miss a concurrent compact() (it changes
      // baseGen/deltaFrom/pmap/grace, not those two), and committing a
      // copy of the STALE pre-compaction manifest would revert the
      // compaction. The commit is based on the re-read mv regardless.
      val mv = manifest(spark, dir, table)
      if (mv != m)
        throw new ConcurrentWriterException(
          s"$table: manifest moved while acquiring the evolve barrier; re-run evolve")
      val next = org.apache.spark.sql.types.StructType(cur.fields ++ added.fields)
      commit(spark, dir, table,
        mv.copy(cols = next.fieldNames.toSeq, schemaDdl = next.toDDL))
    } finally releaseClaim(spark, dir, table, barrier)
  }

  /** Tombstone marker column inside delta files: false on upsert
    * images, true on delete rows (key columns set, payload NULL).
    * Older delta files without the column read as false.
    */
  private val DelMarker = "__mor_del"

  /** Producing batch id stamped on every delta row — what makes the
    * chain CONSUMABLE as a change feed ([[changesSince]]), not just
    * reconcilable. Older delta files without the column read as -1.
    */
  private val BatchCol = "__mor_batch"

  /** Data column order of the table (partitioned and evolved manifests
    * record it; legacy flat tables read it off the base files).
    */
  private def dataCols(spark: SparkSession, dir: String, table: String, m: Manifest): Seq[String] =
    if (m.cols.nonEmpty) m.cols
    else spark.read.parquet(basePath(dir, table, m.baseGen).toString).columns.toSeq

  /** The table's CURRENT logical schema: the manifest's DDL when
    * recorded (partitioned tables always; flat tables once [[evolve]]d),
    * the base files otherwise.
    */
  private def tableSchema(spark: SparkSession, dir: String, table: String,
      m: Manifest): org.apache.spark.sql.types.StructType =
    if (m.schemaDdl.nonEmpty) org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    else spark.read.parquet(basePath(dir, table, m.baseGen).toString).schema

  /** NULL-backfill `df` up to `schema` and put the schema's columns
    * first in its order — how files written BEFORE a schema evolution
    * read as the evolved schema (a column added by [[evolve]] is NULL
    * on every row that predates it). Extra columns (`__mor_seq`,
    * [[DelMarker]], [[BatchCol]]) ride along at the end.
    */
  private def alignTo(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val filled = schema.fields.foldLeft(df) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val extras = filled.columns.filterNot(schema.fieldNames.contains)
    filled.select((schema.fieldNames ++ extras).map(col).toIndexedSeq: _*)
  }

  /** The base as one DataFrame in table column order. Partitioned
    * tables union the per-generation reads, each filtered to the
    * partitions whose LIVE copy that generation holds (a predicate on
    * the partition column only — partition pruning skips every stale
    * or foreign directory at planning, so I/O is exactly the live
    * copies). `partValues` narrows further to the given partition
    * values (merge-time pruning).
    */
  private def baseRead(spark: SparkSession, dir: String, table: String,
      m: Manifest, partValues: Option[Seq[String]] = None): DataFrame =
    m.partCol match {
      case None =>
        val raw = spark.read.parquet(basePath(dir, table, m.baseGen).toString)
        // evolved flat tables NULL-backfill columns the base generation
        // predates; legacy manifests (no schema recorded) read as-is
        if (m.schemaDdl.nonEmpty) alignTo(raw, tableSchema(spark, dir, table, m))
        else raw
      case Some(pc) =>
        val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        val wanted = partValues.map(_.toSet)
        val live = m.pmap.filter(e => wanted.forall(_.contains(e._1)))
        if (live.isEmpty)
          // no live partitions (empty table or fully-pruned read): an
          // empty frame in the manifest-recorded schema — no file I/O
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
            .select(m.cols.map(col): _*)
        else
          live.groupBy(_._2).toSeq.sortBy(_._1).map { case (gen, entries) =>
            val vals = entries.map(_._1)
            // alignTo NULL-backfills columns this generation predates
            // (written before an evolve) and restores table order
            alignTo(
              spark.read.parquet(basePath(dir, table, gen).toString)
                .withColumn(pc, col(pc).cast(m.partType))
                .where(col(pc).cast("string").isin(vals: _*)),
              schema)
          }.reduce(_.unionByName(_))
    }

  /** Latest post-merge image per key across the live delta chain:
    * higher delta seq wins (each delta holds at most one row per key
    * by [[deltaMerge]]/[[deltaDelete]] construction). Rows carry
    * [[DelMarker]]; empty when the chain is empty.
    */
  /** The raw live delta chain stacked with `__mor_seq` and normalized
    * [[DelMarker]]/[[BatchCol]] — the input of every latest-image
    * resolution (full chain or a batch-prefix of it).
    */
  private def stackedDeltas(spark: SparkSession, dir: String, table: String,
      m: Manifest): Option[DataFrame] = {
    if (m.deltaSeqs.isEmpty) None
    else {
      val stacked = m.deltaSeqs.map { q =>
        spark.read.parquet(deltaPath(dir, table, q).toString)
          .withColumn("__mor_seq", lit(q))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      val marked =
        if (stacked.columns.contains(DelMarker))
          stacked.withColumn(DelMarker, coalesce(col(DelMarker), lit(false)))
        else stacked.withColumn(DelMarker, lit(false))
      Some(
        if (marked.columns.contains(BatchCol))
          marked.withColumn(BatchCol, coalesce(col(BatchCol), lit(-1L)))
        else marked.withColumn(BatchCol, lit(-1L)))
    }
  }

  /** Latest image per key over a stacked chain (higher seq wins). */
  private def resolveLatest(stacked: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__mor_seq").desc)
    stacked
      .withColumn("__mor_rn", row_number().over(w))
      .where(col("__mor_rn") === 1)
      .drop("__mor_seq", "__mor_rn")
  }

  private def latestDelta(spark: SparkSession, dir: String, table: String,
      m: Manifest): Option[DataFrame] =
    stackedDeltas(spark, dir, table, m).map(resolveLatest(_, m.keys))

  /** On-disk bytes of the live delta chain — pure filesystem metadata
    * (no Spark job), which is what lets every read evaluate the
    * broadcast guard for free.
    */
  private def deltaBytes(spark: SparkSession, dir: String, table: String, m: Manifest): Long = {
    val fs = fsOf(spark, dir)
    m.deltaSeqs.map { q =>
      val p = deltaPath(dir, table, q)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** base − (superseded ∪ deleted keys) + surviving latest images, with
    * the delta side broadcast only under the byte guard.
    */
  private def reconcile(base: DataFrame, latest: DataFrame, keys: Seq[String],
      broadcastOk: Boolean): DataFrame = {
    val keyset = latest.select(keys.map(col): _*).distinct()
    val anti = base.join(if (broadcastOk) broadcast(keyset) else keyset, keys, "left_anti")
    // align the delta images to the base schema: an image written
    // BEFORE an evolve lacks the added columns — NULL-backfilled here,
    // exactly the added-column semantics (its key predates the column)
    anti.unionByName(alignTo(latest.where(!col(DelMarker)), base.schema)
      .select(base.columns.map(col).toIndexedSeq: _*))
  }

  /** The reconciled table: base minus superseded-or-deleted keys plus
    * latest surviving delta images (a key whose newest delta row is a
    * tombstone vanishes from the view). The base scan is shuffle-free
    * while the chain is within `broadcastDeltaBytesLimit` (compact
    * deltas are the contract that keeps it there — the limit turns a
    * violated contract into a shuffled plan, not a driver OOM).
    */
  def readView(spark: SparkSession, dir: String, table: String,
      broadcastDeltaBytesLimit: Long = BroadcastDeltaBytesDefault): DataFrame = {
    val m = manifest(spark, dir, table)
    val base = baseRead(spark, dir, table, m)
    latestDelta(spark, dir, table, m) match {
      case None => base
      case Some(latest) =>
        reconcile(base, latest, m.keys,
          broadcastOk = deltaBytes(spark, dir, table, m) <= broadcastDeltaBytesLimit)
    }
  }

  // ----------------------------------------------------------- claims

  /** Take the create-exclusive claim for delta seq `seq`
    * ([[Warehouse.createExclusive]]).
    */
  private def tryClaim(spark: SparkSession, dir: String, table: String, seq: Long): Boolean =
    Warehouse.createExclusive(fsOf(spark, dir), claimPath(dir, table, seq))

  private def releaseClaim(spark: SparkSession, dir: String, table: String, seq: Long): Unit =
    fsOf(spark, dir).delete(claimPath(dir, table, seq), false)

  /** Delete claims for delta seqs beyond the committed chain — only
    * safe after confirming no writer is live (a claim beyond `deltaTo`
    * is either a crashed writer's leftover or a peer mid-commit; this
    * call cannot tell them apart from the filesystem alone). Because a
    * LIVE peer's claim is deletable here — and deleting it hands its
    * seq to another writer, the lost-commit window — claims younger
    * than `minAgeMs` (default 10 min: generous against any plausible
    * image-build + write) are refused unless `force`, the same age
    * guard as `Warehouse.Txn.releaseStaleClaims`. Returns the number
    * released.
    */
  def releaseStaleClaims(spark: SparkSession, dir: String, table: String,
      minAgeMs: Long = 600000L, force: Boolean = false): Int = {
    val m = manifest(spark, dir, table)
    val fs = fsOf(spark, dir)
    val dd = new Path(s"$dir/$table.mordelta")
    if (!fs.exists(dd)) 0
    else {
      val nowMs = System.currentTimeMillis()
      fs.listStatus(dd).toSeq
        .filter(st => """^(\d+)\.claim$""".r.findFirstMatchIn(st.getPath.getName)
          .map(_.group(1).toLong).exists(_ > m.deltaTo))
        .filter(st => force || nowMs - st.getModificationTime >= minAgeMs)
        .count(st => fs.delete(st.getPath, false))
    }
  }

  /** Serialized delta append: claim the next seq under the freshest
    * manifest, re-verify the manifest under the claim, build + write
    * the images, then commit. A benign race (the peer already
    * committed) retries on fresh state; an in-flight or crashed peer
    * fails loudly. Returns false on a batch-id replay.
    */
  private def appendDelta(spark: SparkSession, dir: String, table: String,
      batchId: Long)(images: Manifest => DataFrame): Boolean = {
    val fs = fsOf(spark, dir)
    var attempts = 0
    while (true) {
      val m = manifest(spark, dir, table)
      if (batchId <= m.lastBatch) return false
      val seq = m.deltaTo + 1
      if (!tryClaim(spark, dir, table, seq)) {
        val m2 = manifest(spark, dir, table)
        if (m2.deltaTo >= seq) {
          // peer committed this seq — retry on fresh state
          attempts += 1
          if (attempts > 16) throw new ConcurrentWriterException(
            s"$table: lost $attempts claim races in a row — writer storm; serialize writers")
        } else throw new ConcurrentWriterException(
          s"$table: delta seq $seq is claimed but uncommitted — a concurrent writer is " +
            "mid-commit (retry after it finishes) or crashed (releaseStaleClaims after " +
            "confirming no writer is live)")
      } else {
        val m2 = manifest(spark, dir, table)
        if (m2 != m) {
          // manifest moved between read and claim — FULL equality, so a
          // concurrent compact() (which changes baseGen/deltaFrom/pmap
          // but neither deltaTo nor lastBatch) forces a fresh retry
          // instead of a commit off the stale pre-compaction manifest
          releaseClaim(spark, dir, table, seq)
          attempts += 1
          if (attempts > 16) throw new ConcurrentWriterException(
            s"$table: manifest kept moving under claims; serialize writers")
        } else {
          // a failed image build or write must not leave the claim
          // behind (it would lock every later writer into the loud
          // crashed-peer path for a failure that changed nothing)
          val n =
            try {
              val df = images(m)
              df.write.mode("overwrite").parquet(deltaPath(dir, table, seq).toString)
              scala.util.Try(countWritten(spark, deltaPath(dir, table, seq)))
                .getOrElse(0L)
            } catch { case t: Throwable =>
              fs.delete(deltaPath(dir, table, seq), true)
              releaseClaim(spark, dir, table, seq)
              throw t
            }
          if (n == 0L) {
            // empty batch: stamp the batch id (idempotence) without
            // extending the chain — an empty delta file would poison
            // every later chain read. Commit under the claim, THEN
            // release it (a racer claiming seq re-verifies the manifest
            // and sees the batch stamp move).
            fs.delete(deltaPath(dir, table, seq), true)
            commit(spark, dir, table, m.copy(lastBatch = batchId))
            releaseClaim(spark, dir, table, seq)
          } else {
            val rows = if (m.rowsAligned) m.deltaRows :+ n else Nil
            commit(spark, dir, table,
              m.copy(deltaTo = seq, lastBatch = batchId, deltaRows = rows))
          }
          return true
        }
      }
    }
    false // unreachable
  }

  /** Keyed SCD-1 merge as a compact delta append: the write is
    * O(touched keys). Returns false when `batchId` is not beyond the
    * committed one (crash replay — skipped). NOTE the stamp is a
    * SINGLE-LOGICAL-WRITER idempotence protocol (one monotone id
    * source, e.g. a streaming checkpoint); concurrent writers must
    * derive ids from [[manifest]].lastBatch at attempt time and treat a
    * false return as "a peer consumed this id — reassign and retry",
    * NEVER as "my batch applied". The source must be UNIQUE
    * on the merge key ([[Merge.scd1]]'s existing contract) — VERIFIED
    * here with one batch-sized aggregate, because duplicate source keys
    * would write multiple images of one key into a single delta, where
    * the latest-image window has no order to break the tie.
    *
    * The source's keys slice the current view (broadcast semi-join —
    * the base is read, never rewritten), [[Merge.scd1]] resolves the
    * post-merge images, and the images land as delta `to+1` followed by
    * the manifest commit. Read I/O on the slice is pruned twice over:
    * partitioned tables read only the source's partitions (when the
    * source carries the partition column), and Bloom-indexed flat
    * tables open only base files whose filter may contain a touched key
    * ([[Layout.bloomManifest]]'s no-false-negatives contract). Write
    * I/O is the images themselves.
    */
  def deltaMerge(
      spark: SparkSession, dir: String, table: String,
      source: DataFrame, spec: MergeSpec,
      now: org.apache.spark.sql.Column, batchId: Long): Boolean = {
    require(!spec.nullSafeKeys,
      "merge-on-read reconcile is null-strict; null-safe keyed dims belong in copy-on-write tables")
    // peek the manifest once for the cheap replay fast-path (appendDelta
    // re-checks under the claim)
    val m0 = manifest(spark, dir, table)
    if (batchId <= m0.lastBatch) return false
    // one batch-sized aggregate yields BOTH the uniqueness verdict and
    // the distinct-key count that guards the slice's key broadcasts
    val keyStats = source.groupBy(spec.keys.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("__k"), max(col("__c")).as("__mx")).head()
    val srcKeyRows = keyStats.getLong(0)
    require(srcKeyRows == 0L || keyStats.getLong(1) <= 1L,
      s"$table: source must be unique on (${spec.keys.mkString(",")}) — " +
        "dedup to one image per key before deltaMerge (multiple images of a key " +
        "in one delta have no deterministic winner)")
    appendDelta(spark, dir, table, batchId) { m =>
      val view = mergeSlice(spark, dir, table, m, source, spec.keys, srcKeyRows)
      Merge.scd1(view, source, spec, now)
        .select(view.columns.map(col).toIndexedSeq: _*)
        .withColumn(DelMarker, lit(false))
        .withColumn(BatchCol, lit(batchId))
    }
  }

  /** The key→partition routing probe for pc-less sources: the base
    * projected to (keys, partition column) — Catalyst prunes the scan
    * to exactly those columns (ScaleSpec pins the ReadSchema), so the
    * probe reads a sliver of a wide table's bytes — semi-joined to the
    * source's keys.
    */
  private[graft] def routingProbe(spark: SparkSession, dir: String, table: String,
      m: Manifest, srcKeys: DataFrame, pc: String, keys: Seq[String],
      broadcastOk: Boolean = true): DataFrame =
    baseRead(spark, dir, table, m)
      .select((keys :+ pc).map(col): _*)
      .join(if (broadcastOk) broadcast(srcKeys) else srcKeys, keys, "left_semi")

  /** The view restricted to the source's keys — the read side of a
    * merge. Partition-pruned when the table is partitioned and the
    * source carries the partition column; Bloom-file-pruned on flat
    * Bloom-indexed tables; the plain full view slice otherwise.
    *
    * Both broadcast sides are GUARDED, mirroring [[readView]]: the
    * reconcile key set by the chain's on-disk bytes (free filesystem
    * metadata), the source key set by `srcKeyRows`
    * ([[BroadcastSourceKeyRowsDefault]]) — so a backfill-sized batch or
    * a fallen-behind chain degrades to shuffled joins instead of a
    * driver OOM. A negative `srcKeyRows` means "unknown" and stays on
    * the safe shuffled path.
    */
  private[graft] def mergeSlice(spark: SparkSession, dir: String, table: String,
      m: Manifest, source: DataFrame, keys: Seq[String],
      srcKeyRows: Long,
      broadcastDeltaBytesLimit: Long = BroadcastDeltaBytesDefault,
      broadcastSourceKeyRowsLimit: Long = BroadcastSourceKeyRowsDefault): DataFrame = {
    val srcBroadcastOk = srcKeyRows >= 0 && srcKeyRows <= broadcastSourceKeyRowsLimit
    def maybeB(df: DataFrame): DataFrame = if (srcBroadcastOk) broadcast(df) else df
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val base = m.partCol match {
      case Some(pc) if source.columns.contains(pc) =>
        val vals = source.select(col(pc).cast("string")).distinct()
          .collect().map(_.getString(0)).toSeq
        require(!vals.contains(null), s"source carries NULL $pc")
        baseRead(spark, dir, table, m, Some(vals))
      case Some(pc) =>
        // index-free partition ROUTING for sources that do not carry
        // the partition column: a COLUMN-PRUNED probe (the scan reads
        // only the key + partition columns — a sliver of a wide table's
        // bytes) resolves which partitions hold the touched keys, then
        // the full-width read prunes to exactly those. Update-only by
        // construction: an insert has no routable partition, so new
        // keys (absent from both the probed base and the live chain)
        // are rejected loudly instead of landing with a NULL partition.
        val probe = routingProbe(spark, dir, table, m, srcKeys, pc, keys, srcBroadcastOk)
        val vals = probe.select(col(pc).cast("string")).distinct()
          .collect().map(_.getString(0)).toSeq // ≤ partition count
        // "known" = keys the VIEW still holds: base-probed keys whose
        // latest chain image is not a tombstone, plus live chain images
        // (a tombstoned key would re-insert through scd1 with no
        // routable partition — same reject as a brand-new key)
        val latest = latestDelta(spark, dir, table, m)
        val baseKnown = latest.map(_.where(col(DelMarker)).select(keys.map(col): _*))
          .foldLeft(probe.select(keys.map(col): _*))(
            (p, tomb) => p.join(tomb, keys, "left_anti"))
        val known = latest.map(_.where(!col(DelMarker)).select(keys.map(col): _*))
          .foldLeft(baseKnown)(_ unionByName _)
        require(srcKeys.join(known, keys, "left_anti").isEmpty,
          s"$table: source lacks partition column $pc and carries NEW (or tombstoned) " +
            "keys — inserts must bring the partition column (pc-less routing is update-only)")
        baseRead(spark, dir, table, m, Some(vals))
      case None if m.bloomBits > 0 =>
        bloomPrunedBase(spark, dir, table, m, srcKeys)
      case None => baseRead(spark, dir, table, m)
    }
    val view = latestDelta(spark, dir, table, m) match {
      case None => base
      case Some(latest) => reconcile(base, latest, m.keys,
        broadcastOk = deltaBytes(spark, dir, table, m) <= broadcastDeltaBytesLimit)
    }
    view.join(maybeB(srcKeys), keys, "left_semi")
  }

  // ------------------------------------------------------ Bloom index

  /** Build + persist the per-file Bloom manifest for a base generation
    * (one distributed scan of that generation; rows = files × words —
    * metadata-sized). Maintained at [[init]] and [[compact]]; the cost
    * is one extra pass over data that was just written, the payoff is
    * O(touched files) merge reads forever after.
    */
  private def writeBloom(spark: SparkSession, dir: String, table: String,
      gen: Long, keyCol: String, bits: Int, hashes: Int): Unit =
    Layout.bloomManifest(spark, basePath(dir, table, gen).toString, keyCol, bits, hashes)
      .write.mode("overwrite").parquet(bloomPath(dir, table, gen).toString)

  /** The base scan reduced to files that MAY contain any source key:
    * a distributed multi-key probe of the Bloom manifest (explode the
    * k positions per key, bit-check per word, a file qualifies for a
    * key when every probed word carries its mask). No false negatives
    * by construction, so the merge slice is exact; false positives
    * only cost I/O. Falls back to the full scan if the manifest for
    * the current generation is missing.
    */
  private def bloomPrunedBase(spark: SparkSession, dir: String, table: String,
      m: Manifest, srcKeys: DataFrame): DataFrame = {
    // evolved tables NULL-backfill like baseRead (identity pre-evolve)
    def conform(df: DataFrame): DataFrame =
      if (m.schemaDdl.nonEmpty) alignTo(df, tableSchema(spark, dir, table, m)) else df
    val fs = fsOf(spark, dir)
    val bp = bloomPath(dir, table, m.baseGen)
    val full = basePath(dir, table, m.baseGen).toString
    if (!fs.exists(bp)) return conform(spark.read.parquet(full))
    val keyCol = m.keys.head
    val manifestDf = spark.read.parquet(bp.toString)
    val files = bloomCandidateFiles(
      manifestDf, srcKeys, keyCol, m.bloomBits, m.bloomHashes)
    if (files.isEmpty) conform(spark.read.parquet(full).where(lit(false)))
    else conform(spark.read.parquet(files: _*))
  }

  /** Files whose Bloom filter passes for AT LEAST ONE probe key —
    * all-Spark (same xxhash64 codepath as the build, never re-derived
    * driver-side); the returned list is metadata-sized (≤ file count).
    */
  private[graft] def bloomCandidateFiles(manifestDf: DataFrame, keysDf: DataFrame,
      keyCol: String, bits: Int, hashes: Int): Seq[String] = {
    val positions = (0 until hashes).map(i =>
      pmod(xxhash64(lit(i), col(keyCol)), lit(bits.toLong)))
    val probes = keysDf.select(col(keyCol).as("__k"),
        explode(array(positions.map(p => p.cast("long")): _*)).as("__p"))
      .select(col("__k"), expr("__p div 64").as("word_idx"),
        expr("shiftleft(1L, CAST(__p % 64 AS INT))").as("__m"))
      .groupBy("__k", "word_idx")
      .agg(call_function("bit_or", col("__m")).as("__need"))
    val perKeyWords = probes.groupBy("__k").agg(count(lit(1)).as("__nw"))
    probes
      .join(manifestDf.select("file", "word_idx", "word"), Seq("word_idx"))
      .where((col("word").bitwiseAND(col("__need"))) === col("__need"))
      .groupBy(col("file"), col("__k"))
      .agg(count(lit(1)).as("__hit"))
      .join(broadcast(perKeyWords), Seq("__k"))
      .where(col("__hit") === col("__nw"))
      .select("file").distinct()
      .collect().map(_.getString(0)).toIndexedSeq // metadata-sized
  }

  /** Keyed delete as a tombstone delta: the write is O(deleted keys) —
    * key columns plus a true [[DelMarker]], payload NULL. The view
    * drops tombstoned keys; [[compact]] physically removes them (the
    * folded base simply lacks the rows). Same batch-id stamp and claim
    * contract as [[deltaMerge]]. Partitioned tables REQUIRE the
    * partition column in `keysDf` — a tombstone is routed to its dirty
    * partition by it (the base is never consulted on the write path).
    */
  def deltaDelete(
      spark: SparkSession, dir: String, table: String,
      keysDf: DataFrame, batchId: Long): Boolean = {
    val m0 = manifest(spark, dir, table)
    if (batchId <= m0.lastBatch) return false
    m0.partCol.foreach(pc => require(keysDf.columns.contains(pc),
      s"$table is partitioned on $pc: deltaDelete keys must carry it for routing"))
    appendDelta(spark, dir, table, batchId) { m =>
      val order = dataCols(spark, dir, table, m)
      val keep = m.keys ++ m.partCol.filterNot(m.keys.contains)
      val tomb = keysDf.select(keep.map(col): _*).distinct()
      val types = tableSchema(spark, dir, table, m)
      order.foldLeft(tomb) { (df, c) =>
          if (keep.contains(c)) df
          else df.withColumn(c, lit(null).cast(types(c).dataType))
        }.select(order.map(col): _*)
        .withColumn(DelMarker, lit(true))
        .withColumn(BatchCol, lit(batchId))
    }
  }

  /** Fold the delta chain into a new base generation and reset the
    * chain — run when live delta rows exceed `maxDeltaRatio` of the
    * base (a MANIFEST-ONLY check: writers record row counts at write
    * time, so a scheduler — or the streaming upsert sink — can call
    * this after every batch for free).
    *
    * Partition-scoped tables fold ONLY the dirty partitions (see class
    * doc); flat tables rewrite the base (their documented cost — lay
    * out big tables partitioned). `maxGenerations` bounds partitioned
    * read fan-in: when the live map would span more generations, the
    * fold widens to every partition (the rare amortized full rewrite).
    *
    * Retention matches [[Warehouse.Pointer]]'s keepGenerations
    * discipline, enforced at ENTRY so it runs even on a quiescent
    * table: what the PREVIOUS compaction displaced (older generations /
    * delta seqs below the live window / grace-listed partition dirs) is
    * pruned first, and what THIS compaction displaces is retained for
    * one full cycle — an in-flight reader that resolved the previous
    * manifest still finds every file it references. At 100 TB retention
    * is storage, never a copy — nothing is rewritten.
    *
    * Concurrency: the fold holds the claim on the next delta seq as a
    * BARRIER, so no merge can append between the fold's manifest read
    * and its commit (the appended delta would silently vanish from the
    * committed chain otherwise). The barrier is released after commit.
    */
  def compact(spark: SparkSession, dir: String, table: String,
      maxDeltaRatio: Double = 0.0, maxGenerations: Int = 8,
      sortCols: Seq[String] = Nil): Unit = {
    // CLUSTERED compaction: when `sortCols` is given, the folded base
    // is range-partitioned and sorted on them, so per-file min/max
    // intervals come out disjoint (clusteringDepth ~ 0) and every
    // later merge slice / range scan opens the minimal file set —
    // clustering maintenance rides the rewrite that was happening
    // anyway, the only place a 100 TB table can afford it
    def clustered(df: DataFrame, lead: Seq[String]): DataFrame =
      if (sortCols.isEmpty) df
      else {
        val order = (lead ++ sortCols).map(col)
        df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      }
    val fs = fsOf(spark, dir)
    val m = manifest(spark, dir, table)

    // entry pruning: everything the PREVIOUS cycle displaced (runs even
    // when the chain is empty, so quiescent tables reclaim their grace
    // set on the next scheduler pass — nothing lingers past one cycle)
    val baseDir = new Path(s"$dir/$table.morbase")
    if (m.partCol.isEmpty) {
      // flat: the live gen is m.baseGen; anything older had its grace
      // cycle (it was displaced by the previous compaction's commit)
      if (fs.exists(baseDir)) fs.listStatus(baseDir).toSeq
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
        .filter(_ < m.baseGen)
        .foreach { g =>
          fs.delete(basePath(dir, table, g), true)
          fs.delete(bloomPath(dir, table, g), true)
        }
    } else {
      // partitioned: the grace list IS the previous cycle's displaced
      // partition dirs; a gen dir left empty afterwards goes entirely
      val liveGens = m.pmap.map(_._2).toSet
      m.grace.foreach { case (g, v) =>
        val gp = basePath(dir, table, g)
        if (fs.exists(gp)) fs.listStatus(gp).toSeq
          .filter(st => st.isDirectory && {
            val n = st.getPath.getName
            val i = n.indexOf('=')
            i > 0 && unescapePartitionDir(n.substring(i + 1)) == v
          })
          .foreach(st => fs.delete(st.getPath, true))
      }
      m.grace.map(_._1).distinct.filterNot(liveGens.contains).foreach { g =>
        val gp = basePath(dir, table, g)
        if (fs.exists(gp) && !fs.listStatus(gp).exists(st =>
            st.isDirectory && st.getPath.getName.contains("=")))
          fs.delete(gp, true)
      }
    }
    val deltaDir = new Path(s"$dir/$table.mordelta")
    if (fs.exists(deltaDir)) fs.listStatus(deltaDir).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        scala.util.Try(n.stripSuffix(".claim").toLong).toOption.map(_ -> st.getPath)
      }
      .filter(_._1 < m.deltaFrom)
      .foreach { case (_, p) => fs.delete(p, true) }

    if (m.deltaSeqs.isEmpty) return

    // manifest-only ratio guard (count jobs only for pre-rows manifests)
    if (maxDeltaRatio > 0) {
      val deltaRows =
        if (m.rowsAligned) m.deltaRows.sum
        else m.deltaSeqs.map(q => countWritten(spark, deltaPath(dir, table, q))).sum
      val baseRows =
        if (m.baseRows >= 0) m.baseRows
        else countWritten(spark, basePath(dir, table, m.baseGen))
      if (baseRows > 0 && deltaRows.toDouble / baseRows <= maxDeltaRatio) return
    }

    // barrier: claim the next delta seq so no merge commits between our
    // manifest read and our commit
    val barrier = m.deltaTo + 1
    if (!tryClaim(spark, dir, table, barrier))
      throw new ConcurrentWriterException(
        s"$table: compact lost the barrier claim on delta seq $barrier — a writer is " +
          "appending; re-run compact after it commits")
    try {
      // FULL-manifest re-verify (see evolve): a peer compaction between
      // our read and our claim changes neither deltaTo nor lastBatch
      val mv = manifest(spark, dir, table)
      if (mv != m)
        throw new ConcurrentWriterException(
          s"$table: manifest moved while acquiring the compaction barrier; re-run compact")

      val nextGen = mv.baseGen + 1
      m.partCol match {
        case None =>
          clustered(readView(spark, dir, table), Nil).write.mode("overwrite")
            .parquet(basePath(dir, table, nextGen).toString)
          val n = countWritten(spark, basePath(dir, table, nextGen))
          if (m.bloomBits > 0)
            writeBloom(spark, dir, table, nextGen, m.keys.head, m.bloomBits, m.bloomHashes)
          commit(spark, dir, table, mv.copy(baseGen = nextGen,
            deltaFrom = mv.deltaTo + 1, deltaRows = Nil, baseRows = n))
        case Some(pc) =>
          val latest = latestDelta(spark, dir, table, m).get
          val dirtyVals = latest.select(col(pc).cast("string").as("__v")).distinct()
            .collect().map(_.getString(0)).toSeq
          require(!dirtyVals.contains(null),
            s"delta chain carries NULL $pc — partition routing broken")
          val cleanEntries = m.pmap.filterNot(e => dirtyVals.contains(e._1))
          val fullFold = (cleanEntries.map(_._2).toSet + nextGen).size > maxGenerations
          val foldVals =
            if (fullFold) (m.pmap.map(_._1) ++ dirtyVals).distinct else dirtyVals
          val base = baseRead(spark, dir, table, m, Some(foldVals))
          val folded = reconcile(base, latest, m.keys,
            broadcastOk = deltaBytes(spark, dir, table, m) <= BroadcastDeltaBytesDefault)
          clustered(folded, Seq(pc)).write.mode("overwrite").partitionBy(pc)
            .parquet(basePath(dir, table, nextGen).toString)
          // a fully-tombstoned fold writes no files — no entries then
          val counts = scala.util.Try(
            spark.read.parquet(basePath(dir, table, nextGen).toString)
              .groupBy(col(pc).cast("string").as("__v"))
              .agg(count(lit(1)).as("__n")).collect()
              .map(r => (r.getString(0), nextGen, r.getLong(1))).toSeq.sortBy(_._1))
            .getOrElse(Seq.empty)
          val keptClean = if (fullFold) Nil else cleanEntries
          val newPmap = (keptClean ++ counts).sortBy(_._1)
          // this cycle's grace: the displaced live copies (folded
          // partitions' old entries)
          val displaced = m.pmap.filter(e => foldVals.contains(e._1))
            .map(e => (e._2, e._1))
          commit(spark, dir, table, mv.copy(baseGen = nextGen,
            deltaFrom = mv.deltaTo + 1, deltaRows = Nil,
            baseRows = newPmap.map(_._3).sum,
            pmap = newPmap, grace = displaced))
      }
    } finally releaseClaim(spark, dir, table, barrier)
  }

  /** MINOR compaction — fold the delta CHAIN into one delta file
    * without touching the base: the latest image per key (tombstones
    * preserved — base rows still need masking) lands as the single new
    * chain element. The LSM distinction [[compact]] lacks: a streaming
    * writer appending a small delta per trigger grows the chain's READ
    * fan-in (N file opens + an N-way union per read) long before the
    * ROW ratio justifies folding partitions into a new base
    * generation; minor compaction caps the fan-in at I/O proportional
    * to the chain itself — the base, however many TB, is never read or
    * written.
    *
    * Triggered by chain LENGTH (`maxChainLength`, a manifest-only
    * check — call it after every batch for free); batch stamps ride on
    * each image, so [[changesSince]] feeds are unchanged. Retention
    * caveat (same contract as major compaction, sharpened): superseded
    * per-key history inside the folded window is gone, so
    * [[readViewAsOf]] at a batch before the fold returns the base
    * value for keys that were later re-updated — time travel
    * granularity is bounded by the compaction cadence, minor or major.
    *
    * Concurrency: the folded chain element takes the next delta seq,
    * whose claim doubles as the barrier (exactly [[compact]]'s
    * protocol); displaced delta files get the standard one-cycle grace
    * and are pruned by the next compaction's entry sweep.
    */
  def compactMinor(spark: SparkSession, dir: String, table: String,
      maxChainLength: Int = 0): Unit = {
    val fs = fsOf(spark, dir)
    val m = manifest(spark, dir, table)
    // entry sweep (same as compact): delta files below the live window
    // had their one-cycle grace — reclaim them even on a quiescent call
    val deltaDir = new Path(s"$dir/$table.mordelta")
    if (fs.exists(deltaDir)) fs.listStatus(deltaDir).toSeq
      .flatMap { st =>
        val n = st.getPath.getName
        scala.util.Try(n.stripSuffix(".claim").toLong).toOption.map(_ -> st.getPath)
      }
      .filter(_._1 < m.deltaFrom)
      .foreach { case (_, p) => fs.delete(p, true) }
    if (m.deltaSeqs.size <= math.max(maxChainLength, 1)) return
    val barrier = m.deltaTo + 1
    if (!tryClaim(spark, dir, table, barrier))
      throw new ConcurrentWriterException(
        s"$table: minor compact lost the barrier claim on delta seq $barrier — a writer " +
          "is appending; re-run after it commits")
    try {
      // FULL-manifest re-verify (see evolve): a peer compaction between
      // our read and our claim changes neither deltaTo nor lastBatch
      val mv = manifest(spark, dir, table)
      if (mv != m)
        throw new ConcurrentWriterException(
          s"$table: manifest moved while acquiring the minor-compaction barrier; re-run")
      val latest = latestDelta(spark, dir, table, mv).get // chain non-empty
      latest.write.mode("overwrite").parquet(deltaPath(dir, table, barrier).toString)
      val n = countWritten(spark, deltaPath(dir, table, barrier))
      commit(spark, dir, table, mv.copy(
        deltaFrom = barrier, deltaTo = barrier, deltaRows = Seq(n)))
    } finally releaseClaim(spark, dir, table, barrier)
  }

  /** The delta chain as a CHANGE FEED: the latest image per key among
    * delta rows produced by batches AFTER `sinceBatch`, each tagged
    * `change` = upsert | delete — what an incremental downstream
    * consumer (a derived aggregate, a search index, a cache) applies
    * instead of re-reading the table. Cost is chain-sized, never
    * base-sized.
    *
    * Retention contract (standard CDC): [[compact]] truncates the
    * chain, so changes older than the live `deltaFrom` are gone — a
    * consumer must keep up with the compaction cadence or re-bootstrap
    * from [[readView]]. Delta files written before the batch stamp
    * existed read as batch -1 (never "after" any requested point).
    */
  def changesSince(spark: SparkSession, dir: String, table: String,
      sinceBatch: Long): DataFrame = {
    val m = manifest(spark, dir, table)
    val order = dataCols(spark, dir, table, m).filterNot(_ == DelMarker).toIndexedSeq
    latestDelta(spark, dir, table, m) match {
      case None => baseRead(spark, dir, table, m).select(order.map(col): _*)
        .withColumn("change", lit("")).limit(0)
      case Some(latest) =>
        val aligned = alignTo(latest, tableSchema(spark, dir, table, m))
        val withBatch =
          if (aligned.columns.contains(BatchCol))
            aligned.withColumn(BatchCol, coalesce(col(BatchCol), lit(-1L)))
          else aligned.withColumn(BatchCol, lit(-1L))
        withBatch.where(col(BatchCol) > sinceBatch)
          .select(order.map(col) :+
            when(col(DelMarker), lit("delete")).otherwise(lit("upsert"))
              .as("change"): _*)
    }
  }

  /** TIME-TRAVEL read: the reconciled view AS OF a batch id — the
    * latest image per key among delta rows stamped ≤ `asOfBatch`
    * reconciled against the base, exactly [[readView]]'s shape on the
    * chain PREFIX. Defined while the live chain still holds every
    * delta past the current base generation ([[compact]] folds later
    * batches into the base and truncates history — the same
    * retention contract as [[changesSince]]); audits needing deep
    * history pair this with snapshot archives
    * ([[Warehouse.overwriteVersioned]]). Cost is identical to a
    * current-view read.
    */
  def readViewAsOf(spark: SparkSession, dir: String, table: String,
      asOfBatch: Long,
      broadcastDeltaBytesLimit: Long = BroadcastDeltaBytesDefault): DataFrame = {
    val m = manifest(spark, dir, table)
    stackedDeltas(spark, dir, table, m)
      .map(st => resolveLatest(st.where(col(BatchCol) <= asOfBatch), m.keys)) match {
      case None => baseRead(spark, dir, table, m)
      case Some(latestAsOf) =>
        reconcile(baseRead(spark, dir, table, m), latestAsOf, m.keys,
          broadcastOk = deltaBytes(spark, dir, table, m) <= broadcastDeltaBytesLimit)
    }
  }

  /** [[changesSince]] with PRE-IMAGES — what a derived-AGGREGATE
    * maintainer needs: replacing a key's contribution in a sum/count
    * requires the value it contributed BEFORE (retract old, apply new);
    * the plain feed only carries the after-state. Each net change row
    * gains `pre_<col>` columns holding the key's image as of
    * `sinceBatch` (NULL when the key was absent — a pure insert).
    *
    * The pre-image is resolved from data already on hand: the live
    * chain's rows with batch ≤ `sinceBatch` reconcile against the base
    * exactly like [[readView]], then slice to the CHANGED keys only —
    * so the extra cost is one changed-key-sized semi-join on the base,
    * not a second table read, and nothing is retained beyond what the
    * chain already retains (same compaction-bounded contract as the
    * feed itself; a consumer must keep up or re-bootstrap).
    */
  def changesWithPreImage(spark: SparkSession, dir: String, table: String,
      sinceBatch: Long): DataFrame = {
    val m = manifest(spark, dir, table)
    val changes = changesSince(spark, dir, table, sinceBatch)
    val order = dataCols(spark, dir, table, m).filterNot(_ == DelMarker)
    val dataOnly = order.filterNot(m.keys.contains)
    // view AS OF sinceBatch: resolve latest-per-key over the PREFIX of
    // the raw chain (batch ≤ N) — a key whose newest image is later
    // correctly falls back to its older image, which filtering the
    // already-resolved latest would lose. Pre-stamp files read as -1.
    val asOf = stackedDeltas(spark, dir, table, m)
      .map(st => resolveLatest(st.where(col(BatchCol) <= sinceBatch), m.keys)) match {
      case None => baseRead(spark, dir, table, m)
      case Some(latestAsOf) =>
        reconcile(baseRead(spark, dir, table, m), latestAsOf, m.keys,
          broadcastOk = deltaBytes(spark, dir, table, m) <= BroadcastDeltaBytesDefault)
    }
    val changedKeys = changes.select(m.keys.map(col): _*).distinct()
    val pre = asOf.join(broadcast(changedKeys), m.keys, "left_semi")
      .select(m.keys.map(col) ++ dataOnly.map(c => col(c).as(s"pre_$c")): _*)
    changes.join(pre, m.keys, "left")
  }

  /** Apply a [[changesSince]] feed onto a consumer's SNAPSHOT — the
    * incremental-consumer contract made executable: the feed is the
    * NET change per key (one row each), so one pass applies it —
    * tombstoned keys drop, upsert images replace-or-insert whole rows
    * (they are FULL post-merge images, so replacement needs no column
    * subset logic). `applyChanges(snapshot@batchN, changesSince(N))`
    * equals the current [[readView]] — a downstream replica, index, or
    * derived aggregate refreshes at chain-sized cost instead of
    * re-reading the table (gated: `merge_delta_apply_changes`).
    *
    * Scale shape: one anti-join + one full-outer merge, both keyed on
    * the merge key and both against a feed that is compact by the same
    * contract as the delta chain itself.
    */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame = {
    val dels = changes.where(col("change") === "delete")
      .select(keys.map(col): _*).distinct()
    val ups = changes.where(col("change") === "upsert").drop("change")
    val kept = snapshot.join(broadcast(dels), keys, "left_anti")
    // full-row replace: every non-key column refreshes from the image
    val spec = MergeSpec(keys, snapshot.columns.filterNot(keys.contains).toSeq)
    Merge.scd1(kept, ups, spec, lit(null).cast("timestamp"))
      .select(snapshot.columns.map(col).toIndexedSeq: _*)
  }

  /** Rows per live delta file, oldest first — the O(changed rows)
    * write-amplification evidence the bench publishes. Manifest-only
    * when the writer recorded counts (every writer since they existed);
    * falls back to footer counts for older chains.
    */
  def deltaRowCounts(spark: SparkSession, dir: String, table: String): Seq[Long] = {
    val m = manifest(spark, dir, table)
    if (m.rowsAligned) m.deltaRows
    else m.deltaSeqs.map(q => countWritten(spark, deltaPath(dir, table, q)))
  }

  /** (files read if a merge touched these partition values, total live
    * base files) — the files-opened evidence for the bench: how much of
    * the base a partition-routed merge actually opens.
    */
  def baseFileFootprint(spark: SparkSession, dir: String, table: String,
      partValues: Seq[String]): (Long, Long) = {
    val m = manifest(spark, dir, table)
    require(m.partCol.nonEmpty, "files-opened footprint is defined for partitioned tables")
    val fs = fsOf(spark, dir)
    def filesUnder(entries: Seq[(String, Long, Long)]): Long =
      entries.groupBy(_._2).map { case (gen, es) =>
        val genPath = basePath(dir, table, gen)
        val vals = es.map(_._1).toSet
        // partition dirs are <partCol>=<escaped value>; match on the
        // decoded value (Spark's own escaping is applied at write)
        fs.listStatus(genPath).toSeq
          .filter(st => st.isDirectory && {
            val n = st.getPath.getName
            val i = n.indexOf('=')
            i > 0 && vals.contains(unescapePartitionDir(n.substring(i + 1)))
          })
          .map(d => fs.listStatus(d.getPath)
            .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong)
          .sum
      }.sum
    (filesUnder(m.pmap.filter(e => partValues.contains(e._1))), filesUnder(m.pmap))
  }
}
