package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Parquet warehouse with atomic overwrite — the engine's replacement
  * for the reference's Postgres tables (no JDBC driver ships with the
  * image; see SURVEY §1 "Spark mapping").
  *
  * Overwrite = write to `<table>.tmp`, then swap directories via
  * FileSystem renames. The write job fully materializes into the tmp dir
  * before the swap, so a merge can read the current table and overwrite
  * it in one pipeline, and a crash mid-write leaves the current table
  * intact (crash-safety the reference gets from Postgres transactions;
  * idempotency matters because the watermark protocol is at-least-once —
  * SURVEY §2.6 O3).
  */
object Warehouse {

  private def path(dir: String, table: String) = s"$dir/$table"

  /** Self-healing for the swap's crash window: a crash between
    * rename(live→old) and rename(tmp→live) leaves the table only under
    * `<table>.old`; every entry point heals that state by renaming it
    * back before proceeding, so the data is never more than one access
    * away from live. (`.tmp` is never recovered — it may be a partial
    * write.)
    */
  private def heal(spark: SparkSession, dir: String, table: String): Unit = {
    val live = new Path(path(dir, table))
    val old = new Path(path(dir, table) + ".old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(old)) {
      // check-then-rename race: a concurrent reader may heal between our
      // exists() and rename(); the loser's rename returns false but the
      // table IS live — only a still-missing live path is a real failure
      if (!fs.rename(old, live) && !fs.exists(live))
        throw new java.io.IOException(s"warehouse heal failed: $old -> $live")
    }
  }

  def exists(spark: SparkSession, dir: String, table: String): Boolean = {
    heal(spark, dir, table)
    val p = new Path(path(dir, table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    heal(spark, dir, table)
    spark.read.parquet(path(dir, table))
  }

  /** Read the table with `schema` declared, or an empty DataFrame with
    * that schema when the table does not exist yet (first pipeline run).
    * A declared schema saves the footer-reading job that inferring it
    * costs, but parquet binds columns by name, so a declared column the
    * files lack reads as NULL: `schema` must be the table's stored schema
    * (for the AQI tables, `aqi.Schemas`, pinned by AqiPipelineSpec).
    */
  def readOrEmpty(spark: SparkSession, dir: String, table: String, schema: StructType): DataFrame =
    if (exists(spark, dir, table)) spark.read.schema(schema).parquet(path(dir, table))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Dynamic-partition overwrite: replaces ONLY the partitions present
    * in `df`, leaving all other partitions' files untouched. This is the
    * fact-table write path at scale — a daily merge rewrites the handful
    * of date partitions it touched, not the 100 TB table.
    */
  def overwritePartitions(df: DataFrame, dir: String, table: String, partitionCol: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionCol).parquet(path(dir, table))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** [[overwrite]] (full atomic two-rename swap) writing a PARTITIONED
    * directory layout — one `<col>=<v>` subdirectory per distinct
    * value. The swap protocol is identical to [[overwrite]]; what
    * changes is the layout readers see: filters on the partition column
    * prune at FILE level (only matching subdirectories are listed and
    * scanned), [[readPartitions]] reads single partitions without
    * touching the rest, and [[overwritePartitions]] maintains them
    * incrementally. This is the index-table write path: a probe that
    * touches `p` of `n` partitions reads `p/n` of the files instead of
    * the whole table.
    */
  def overwriteLayout(df: DataFrame, dir: String, table: String, partitionCol: String): Unit =
    swapWrite(df, dir, table)(tmp =>
      df.write.mode("overwrite").partitionBy(partitionCol).parquet(tmp))

  /** Read ONLY the named partitions of a partitioned table — file-level
    * pruning by CONSTRUCTION, not by optimizer cooperation: just the
    * `<col>=<v>` subdirectories in `values` are listed and scanned
    * (`basePath` keeps the partition column in the schema, with the
    * discovery-inferred type — cast it back if the writer's type
    * matters). Missing partitions are skipped; an all-missing set
    * returns an empty frame — with `emptySchema` when given (required
    * when the table itself may hold zero partitions: parquet cannot
    * recover a schema from an empty directory), otherwise with the
    * live table's schema.
    */
  def readPartitions(spark: SparkSession, dir: String, table: String,
      partitionCol: String, values: Seq[Any],
      emptySchema: Option[StructType] = None): DataFrame = {
    heal(spark, dir, table)
    val base = path(dir, table)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = values.map(v => new Path(s"$base/$partitionCol=$v")).filter(fs.exists)
    if (dirs.nonEmpty) spark.read.option("basePath", base).parquet(dirs.map(_.toString): _*)
    else emptySchema match {
      case Some(s) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      case None    => spark.read.parquet(base).limit(0)
    }
  }

  /** Delete the named partitions' directories outright — the
    * emptied-partition complement of [[overwritePartitions]], which by
    * dynamic-overwrite semantics can only REPLACE partitions present in
    * its input: a partition whose every row was deleted produces no
    * output rows, so its stale files would otherwise survive the
    * rewrite. Callers that shrink partitions (RTBF purges) drop the
    * emptied ones explicitly.
    */
  def dropPartitions(spark: SparkSession, dir: String, table: String,
      partitionCol: String, values: Seq[Any]): Unit = {
    heal(spark, dir, table)
    val base = path(dir, table)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    values.foreach(v => fs.delete(new Path(s"$base/$partitionCol=$v"), true))
  }

  /** All data-file paths currently under the live table directory
    * (recursive; `_SUCCESS`/hidden files excluded) — the denominator
    * for I/O-footprint assertions like "a pruned probe read fewer files
    * than the table holds" (the merge5m `mor_base_files_*` pattern).
    */
  def listDataFiles(spark: SparkSession, dir: String, table: String): Seq[String] = {
    heal(spark, dir, table)
    val base = new Path(path(dir, table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) buf += p.toString
    }
    buf.toSeq
  }

  /** Replace the table with `df` via a two-rename directory swap.
    *
    * Crash-safety scope: a crash during the WRITE (the long, dangerous
    * phase) leaves the live table untouched. The swap itself is two
    * renames, not one atomic commit — a crash between rename(live→old)
    * and rename(tmp→live) leaves the data only under `<table>.old`,
    * which every entry point self-heals (renames back) on next access,
    * so no manual recovery is ever needed. A reader racing the swap can
    * still observe a missing path for the instant between the renames:
    * single-writer, retry-on-read semantics — the reference's
    * nightly-batch contract. For always-consistent concurrent readers,
    * front the directory with a pointer/manifest commit (the
    * Iceberg/Delta pattern) — out of scope here.
    */
  def overwrite(df: DataFrame, dir: String, table: String): Unit =
    swapWrite(df, dir, table)(tmp => df.write.mode("overwrite").parquet(tmp))

  /** Interchange export: the table as line-delimited JSON (and a CSV
    * twin) behind the SAME atomic tmp-and-swap as [[overwrite]] —
    * downstream consumers (labeling UIs, Python loaders, other
    * engines) never observe a half-written export. Spark's JSON writer
    * shards per partition, so the export parallelizes like any other
    * write; timestamps serialize as ISO-8601 UTC under the session
    * timezone.
    */
  def exportJsonl(df: DataFrame, dir: String, table: String): Unit =
    swapWrite(df, dir, table)(tmp => df.write.mode("overwrite").json(tmp))

  /** CSV export with a header row; same swap protocol. Nested/array
    * columns must be projected or serialized by the caller first (CSV
    * is flat by definition — the writer rejects them otherwise).
    */
  def exportCsv(df: DataFrame, dir: String, table: String): Unit =
    swapWrite(df, dir, table)(tmp =>
      df.write.mode("overwrite").option("header", "true").csv(tmp))

  /** ORC export — the columnar interchange format for Hive/Presto-era
    * consumers that don't read parquet; same swap protocol, full type
    * fidelity (nested/array columns round-trip, unlike CSV).
    */
  def exportOrc(df: DataFrame, dir: String, table: String): Unit =
    swapWrite(df, dir, table)(tmp => df.write.mode("overwrite").orc(tmp))

  /** Read an ORC export back (ORC files carry their schema — no
    * inference pass, unlike JSONL).
    */
  def readOrc(spark: SparkSession, dir: String, table: String): DataFrame = {
    heal(spark, dir, table)
    spark.read.orc(path(dir, table))
  }

  /** Read a JSONL export back with an explicit schema (inference costs
    * a full extra pass and can widen types — never on by default).
    */
  def readJsonl(spark: SparkSession, dir: String, table: String, schema: StructType): DataFrame = {
    heal(spark, dir, table)
    spark.read.schema(schema).json(path(dir, table))
  }

  private def swapWrite(df: DataFrame, dir: String, table: String)(
      write: String => Unit): Unit = {
    val spark = df.sparkSession
    heal(spark, dir, table)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path(dir, table))
    val tmp = new Path(path(dir, table) + ".tmp")
    val old = new Path(path(dir, table) + ".old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live)) {
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"warehouse swap failed: $live -> $old")
    }
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"warehouse swap failed: $tmp -> $live")
    fs.delete(old, true)
  }

  // ------------------------------------------------------- versioned tables

  private def versionsDir(dir: String, table: String) = new Path(s"$dir/$table.v")

  /** [[overwrite]] plus snapshot retention: after the swap succeeds, the
    * displaced table directory is archived as `<table>.v/<n>` instead of
    * deleted, and only the newest `keepVersions` archives are retained.
    * The swap/crash protocol is IDENTICAL to [[overwrite]] (write tmp →
    * live→old → tmp→live, `.old` self-healed), archiving happens strictly
    * after the new table is live, and archiving is a rename — no data is
    * copied or rewritten.
    *
    * Versions are monotonically numbered; [[readVersion]] time-travels,
    * [[rollback]] restores. Directory-level snapshots fit state and
    * dimension tables (the SCD-1/SCD-2 merge targets); a 100 TB fact
    * table versions at the partition/manifest level instead
    * ([[overwritePartitions]] + an external table format).
    */
  def overwriteVersioned(df: DataFrame, dir: String, table: String, keepVersions: Int = 3): Unit = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val spark = df.sparkSession
    heal(spark, dir, table)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path(dir, table))
    val tmp = new Path(path(dir, table) + ".tmp")
    val old = new Path(path(dir, table) + ".old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live)) {
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"warehouse swap failed: $live -> $old")
    }
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"warehouse swap failed: $tmp -> $live")
    if (fs.exists(old)) {
      val vdir = versionsDir(dir, table)
      if (!fs.exists(vdir)) fs.mkdirs(vdir)
      val next = versions(spark, dir, table).lastOption.getOrElse(0L) + 1
      if (!fs.rename(old, new Path(vdir, next.toString)))
        throw new java.io.IOException(s"warehouse archive failed: $old -> $vdir/$next")
      versions(spark, dir, table).dropRight(keepVersions)
        .foreach(v => fs.delete(new Path(vdir, v.toString), true))
    }
  }

  /** Archived snapshot ids for a versioned table, oldest first (empty
    * when the table has never been overwritten or is not versioned).
    */
  def versions(spark: SparkSession, dir: String, table: String): Seq[Long] = {
    val vdir = versionsDir(dir, table)
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vdir)) Seq.empty
    else fs.listStatus(vdir).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .sorted
  }

  /** Time-travel read of an archived snapshot. */
  def readVersion(spark: SparkSession, dir: String, table: String, version: Long): DataFrame = {
    val vdir = versionsDir(dir, table)
    val p = new Path(vdir, version.toString)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new java.io.IOException(
        s"no archived version $version of $table (have: ${versions(spark, dir, table).mkString(",")})")
    spark.read.parquet(p.toString)
  }

  /** Restore an archived snapshot as the new live table. Runs through
    * [[overwriteVersioned]] — the current live table is archived first,
    * so a rollback is itself undoable and the version history stays
    * monotone. The restored data is re-materialized (written before any
    * directory is mutated), so a crash mid-rollback cannot lose either
    * the live table or the archive being restored.
    */
  def rollback(spark: SparkSession, dir: String, table: String, version: Long, keepVersions: Int = 3): Unit =
    overwriteVersioned(readVersion(spark, dir, table, version), dir, table, keepVersions)

  /** Replace the small file `target` with `content` atomically: write
    * `<target>.tmp`, then rename it over `target`, so a reader sees the
    * old or the new file, never an absent or partial one. The commit of
    * [[Pointer]], [[Txn]] and [[MergeOnRead]]. On `file:` the rename is
    * nio's posix rename(2): Hadoop's local overwrite-rename deletes the
    * target first and moves its checksum file in a second step, windows
    * in which the file is missing or fails its checksum. The target
    * then carries no checksum file; one left by an earlier Hadoop
    * rename is deleted first, so readers skip verification rather than
    * fail it.
    */
  private[sources] def replaceFile(spark: SparkSession, target: Path, content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(conf)
    val tmp = new Path(target.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.getScheme == "file") {
      fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          c.getRawFileSystem.delete(c.getChecksumFile(target), false)
        case _ =>
      }
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else
      org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
        .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Create `p` only if absent; true when this call created it — the
    * writers' claim. On local filesystems this must be O_EXCL through
    * nio (`FileSystem.createNewFile` is check-then-create there, so two
    * racers can both "win"); on HDFS the namenode serializes the
    * overwrite=false create.
    */
  private[sources] def createExclusive(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean = {
    fs.mkdirs(p.getParent)
    if (fs.getScheme == "file") {
      try { java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath)); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try fs.createNewFile(p)
      catch { case _: java.io.IOException => false }
    }
  }

  // ------------------------------------------------------ pointer commits

  /** Pointer-committed tables — the always-consistent-readers upgrade
    * of [[overwrite]]'s directory swap (the minimal form of the
    * Iceberg/Delta manifest pattern). Data generations live under
    * immutable `<table>.data/<gen>` directories; a one-line pointer
    * file `<table>.ptr` names the current generation and is replaced
    * by write-tmp-then-rename — a single atomic commit, so a reader
    * NEVER observes a missing or half-written table: it resolves the
    * pointer it saw, and that generation's directory is immutable.
    * There is no crash window and nothing to heal: a crash before the
    * pointer rename leaves an orphan generation that the next
    * successful commit's pruning removes.
    *
    * Single-writer (like the swap protocol); multi-writer coordination
    * needs a lock/CAS service, which a filesystem cannot provide.
    * `keepGenerations` old generations are retained for in-flight
    * readers that resolved the pointer just before a commit — at 100 TB
    * retention is a storage knob, not a copy (generations are never
    * rewritten).
    */
  object Pointer {

    private def ptrPath(dir: String, table: String) = new Path(s"$dir/$table.ptr")
    private def dataDir(dir: String, table: String) = new Path(s"$dir/$table.data")

    private def fsOf(spark: SparkSession, dir: String) =
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def readPtr(spark: SparkSession, dir: String, table: String): Option[String] = {
      val fs = fsOf(spark, dir)
      val p = ptrPath(dir, table)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
        finally in.close()
      }
    }

    /** Current generation id, or None before the first commit. The
      * pointer line is `<gen>` (legacy) or `<gen>;batch=<id>` (stamped
      * by a streaming fold) — the generation is always the first field.
      */
    def currentGeneration(spark: SparkSession, dir: String, table: String): Option[Long] =
      readPtr(spark, dir, table).map(_.split(';')(0).toLong)

    /** Newest streaming batch id committed into the table, −1 before
      * any stamped commit / on pre-stamp pointer files — the replay
      * guard for [[graft.streaming.Streams.foldUpsertPointerBatch]].
      * An out-of-band [[overwrite]] (no batchId) CARRIES the recorded
      * stamp forward, so an ad-hoc fix-up between triggers never makes
      * live batches look like replays or replays look live.
      */
    def lastBatch(spark: SparkSession, dir: String, table: String): Long =
      readPtr(spark, dir, table).flatMap(_.split(';').toSeq
        .find(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)).getOrElse(-1L)

    def exists(spark: SparkSession, dir: String, table: String): Boolean =
      currentGeneration(spark, dir, table).isDefined

    def read(spark: SparkSession, dir: String, table: String): DataFrame = {
      val gen = currentGeneration(spark, dir, table).getOrElse(
        throw new java.io.IOException(s"pointer table $table has no committed generation"))
      spark.read.parquet(new Path(dataDir(dir, table), gen.toString).toString)
    }

    /** Write `df` as a new immutable generation, then atomically commit
      * the pointer to it. Unreferenced generations older than the
      * newest `keepGenerations` are pruned AFTER the commit.
      * `batchId ≥ 0` stamps the streaming batch id into the pointer
      * line (read back by [[lastBatch]]); the default −1 is an
      * out-of-band commit and carries the existing stamp forward.
      */
    def overwrite(df: DataFrame, dir: String, table: String, keepGenerations: Int = 2,
        batchId: Long = -1L): Unit = {
      require(keepGenerations >= 1, "keepGenerations must be >= 1")
      val spark = df.sparkSession
      val fs = fsOf(spark, dir)
      val dd = dataDir(dir, table)
      if (!fs.exists(dd)) fs.mkdirs(dd)
      val gens = fs.listStatus(dd).toSeq
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption).sorted
      val prev = currentGeneration(spark, dir, table)
      val stamp = if (batchId >= 0) batchId else lastBatch(spark, dir, table)
      // generations newer than the committed pointer are crashed
      // writes (single-writer): never referenced, possibly partial —
      // not history, pruned below regardless of retention
      val orphans = gens.filter(g => prev.forall(_ < g))
      val next = gens.lastOption.getOrElse(0L) + 1
      df.write.mode("overwrite").parquet(new Path(dd, next.toString).toString)
      // the commit: at every instant the pointer file exists and is
      // complete — readers see the old or the new generation, never an
      // absent table
      replaceFile(spark, ptrPath(dir, table),
        if (stamp >= 0) s"$next;batch=$stamp\n" else s"$next\n")
      // prune: crashed-writer orphans always; committed history beyond
      // the newest keepGenerations (covers in-flight readers that
      // resolved the pointer just before this commit)
      val chain = gens.filterNot(orphans.contains) :+ next
      val retained = chain.takeRight(keepGenerations)
      (orphans ++ chain.filterNot(retained.contains)).distinct
        .foreach(g => fs.delete(new Path(dd, g.toString), true))
    }
  }

  // ------------------------------------------------- multi-table txns

  /** MULTI-TABLE atomic commits — cross-table snapshot isolation, the
    * transaction a warehouse needs when "facts and their rollup" or
    * "corpus and its index" must never be observed out of step.
    * [[Pointer]] makes each table individually atomic, but two pointer
    * flips are two commits: a reader between them joins new facts
    * against an old rollup. Here ONE root file names every member
    * table's current generation, and the commit is the root's
    * tmp-write + atomic rename — a reader resolves the root once and
    * every directory it references is immutable, so it sees all of a
    * transaction or none of it.
    *
    * Layout under `dir`: `<name>.txnroot` (one line:
    * `txn=<id>;tables=<t>:<gen>,…`) and per-table immutable
    * `<name>.txndata/<t>/<gen>/` parquet directories.
    *
    * A transaction may update any SUBSET of the member tables —
    * untouched members carry their generation into the new root
    * unchanged (nothing is rewritten). A crash after generation writes
    * but before the root rename leaves orphan directories and an
    * unchanged root: readers still see the previous transaction in
    * full, and the next successful commit prunes the orphans. The
    * PREVIOUS transaction's displaced generations are retained one
    * commit for in-flight readers (the same grace discipline as the
    * merge-on-read compactor), then pruned.
    *
    * Single-writer like [[Pointer]] (a filesystem cannot CAS); the
    * monotone `txn` id makes replays detectable the same way the MoR
    * batch stamp does: `commit(expectedTxn = …)` fails loudly when the
    * root moved, instead of silently double-applying.
    */
  object Txn {

    /** `lastBatch` is the newest streaming batch id committed into the
      * group — the replay guard for
      * [[graft.streaming.Streams.foldTxnBatch]]. Recorded explicitly
      * rather than derived from the txn counter, so an out-of-band
      * commit (bootstrap re-run, ad-hoc fix-up) shifts the counter
      * WITHOUT making live batches look like replays.
      *
      * PRE-STAMP roots (no `batch=` in the line) are seeded from the
      * convention those groups actually followed — bootstrap = txn 1,
      * then one commit per consecutive 0-based batch, so
      * `lastBatch = txn − 2` (the bootstrap-only root reads −1). That
      * closes the one-batch migration window where a pre-stamp group's
      * first crash replay was only idempotent over byte-identical
      * content: the replayed batch id now compares ≤ the seeded stamp
      * and skips even with modified content. The seed assumes the
      * pre-stamp group took NO out-of-band commits (under the old
      * convention an out-of-band commit corrupted the derived count
      * either way — that ambiguity is why the stamp is explicit now);
      * a group known to have taken one should be re-stamped with an
      * explicit `batchId` commit before resuming the stream.
      */
    final case class Snapshot(txn: Long, gens: Map[String, Long], lastBatch: Long = -1L,
        // true when lastBatch was DERIVED from a pre-stamp root's txn
        // counter rather than read from an explicit batch= stamp — the
        // stream-resume path refuses to trust a derived seed unless the
        // caller opts in (the convention assumption is unverifiable
        // from the filesystem; see the scaladoc above)
        seedDerived: Boolean = false)

    /** Roots already warned about pre-stamp seeding — dedupe so the
      * (frequently called) snapshot read doesn't spam per call. */
    private val prestampWarned =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    private def rootPath(dir: String, name: String) = new Path(s"$dir/$name.txnroot")
    private def genPath(dir: String, name: String, table: String, gen: Long) =
      new Path(s"$dir/$name.txndata/$table/$gen")
    private def claimPath(dir: String, name: String, txn: Long) =
      new Path(s"$dir/$name.txnclaim/$txn")

    private def fsOf(spark: SparkSession, dir: String) =
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    private val SafeName = "[A-Za-z0-9._-]+".r

    /** Delete claims beyond the committed txn id — only safe after
      * confirming no writer is live (a claim past the root is either a
      * crashed writer's leftover or a peer mid-commit; this call cannot
      * tell them apart). The "no live writer" precondition is partially
      * MACHINE-CHECKED through `minAgeMs`: a claim younger than it
      * (file mtime) is treated as a possibly-live writer and refused —
      * deleting a mid-commit peer's claim would let a new writer claim
      * the same txn id and re-open the silent last-rename-wins lost-
      * commit window the claim barrier exists to close. The default
      * (10 min) dwarfs any commit's generation-write time; pass
      * `force = true` only when liveness has been confirmed out of
      * band (e.g. the owning job is known dead). Returns the number
      * released.
      */
    def releaseStaleClaims(spark: SparkSession, dir: String, name: String,
        minAgeMs: Long = 600000L, force: Boolean = false): Int = {
      val fs = fsOf(spark, dir)
      val cur = snapshot(spark, dir, name).map(_.txn).getOrElse(0L)
      val cd = new Path(s"$dir/$name.txnclaim")
      if (!fs.exists(cd)) 0
      else {
        val nowMs = System.currentTimeMillis()
        fs.listStatus(cd).toSeq
          .filter(st => scala.util.Try(st.getPath.getName.toLong).toOption.exists(_ > cur))
          .filter(st => force || nowMs - st.getModificationTime >= minAgeMs)
          .count(st => fs.delete(st.getPath, false))
      }
    }

    /** The committed snapshot, or None before the first commit. */
    def snapshot(spark: SparkSession, dir: String, name: String): Option[Snapshot] = {
      val fs = fsOf(spark, dir)
      val p = rootPath(dir, name)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val line = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        val kv = line.split(";").map { e => val Array(k, v) = e.split("=", 2); k -> v }.toMap
        val gens = kv.get("tables").filter(_.nonEmpty).map(_.split(",").toSeq.map { e =>
          val Array(t, g) = e.split(":", 2); t -> g.toLong
        }.toMap).getOrElse(Map.empty)
        // pre-stamp root: seed from the old txn-counter convention
        // (bootstrap = txn 1, one commit per 0-based batch) — see the
        // Snapshot scaladoc for the migration-window rationale
        val explicit = kv.get("batch").map(_.toLong)
        val lastBatch = explicit.getOrElse {
          val seed = kv("txn").toLong - 2
          // The seed ASSUMES the pre-stamp group took no out-of-band
          // commits; for a convention-violating group it silently
          // SKIPS live batches as replays (data loss) — and nothing
          // on the filesystem can verify the assumption. Warn loudly
          // (once per root per JVM) whenever a seed > -1 is derived;
          // the stream-resume path additionally REFUSES a derived seed
          // unless the caller opted in (foldTxnBatch's
          // acceptPrestampSeed), so a convention-violating group
          // cannot silently lose batches.
          if (seed > -1L && prestampWarned.add(s"$dir/$name"))
            System.err.println(
              s"[warehouse] txn group '$name' at $dir has a PRE-STAMP root: " +
              s"seeding lastBatch = txn-2 = $seed under the 'bootstrap + one " +
              "commit per consecutive batch' convention. If this group ever " +
              "took an out-of-band commit, live batches would be skipped as " +
              "replays — re-stamp with an explicit batchId commit before " +
              "resuming streams.")
          seed
        }
        Some(Snapshot(kv("txn").toLong, gens, lastBatch,
          seedDerived = explicit.isEmpty))
      }
    }

    /** Read one member table AS OF a resolved snapshot — resolve the
      * snapshot ONCE and read every table through it for cross-table
      * consistency; the per-call convenience below re-resolves.
      */
    def readAt(spark: SparkSession, dir: String, name: String,
        snap: Snapshot, table: String): DataFrame = {
      val gen = snap.gens.getOrElse(table,
        throw new java.io.IOException(s"table $table is not a member of txn group $name"))
      spark.read.parquet(genPath(dir, name, table, gen).toString)
    }

    def read(spark: SparkSession, dir: String, name: String, table: String): DataFrame =
      readAt(spark, dir, name, snapshot(spark, dir, name).getOrElse(
        throw new java.io.IOException(s"txn group $name has no committed transaction")), table)

    /** Commit `updates` (any subset of members; first commit defines
      * them) as ONE transaction. `expectedTxn` (when >= 0) must equal
      * the current txn id — the optimistic-concurrency / replay guard.
      * `batchId` (when >= 0) stamps [[Snapshot.lastBatch]]; unstamped
      * commits carry the previous stamp forward, so an out-of-band
      * fix-up never resets a stream's replay guard.
      *
      * Two RACING writers are serialized by a create-exclusive CLAIM on
      * the txn id they are both aiming at (the merge-on-read delta-seq
      * discipline): the loser fails the claim — or, having claimed
      * after the winner released, fails the root re-verify under the
      * claim — with a loud
      * [[graft.sources.MergeOnRead.ConcurrentWriterException]] instead
      * of silently vanishing the winner's commit under a last-rename-
      * wins race. The claim is taken BEFORE the generation writes, so a
      * loser fails before any data I/O. A claim left by a crashed
      * writer blocks the id loudly; [[releaseStaleClaims]] reclaims it
      * after confirming no writer is live.
      *
      * Returns the committed txn id.
      */
    def commit(spark: SparkSession, dir: String, name: String,
        updates: Map[String, DataFrame], expectedTxn: Long = -1L,
        batchId: Long = -1L): Long = {
      require(updates.nonEmpty, "a transaction updates at least one table")
      updates.keys.foreach(t => require(SafeName.matches(t),
        s"table name '$t' must match [A-Za-z0-9._-]+"))
      val fs = fsOf(spark, dir)
      val prev = snapshot(spark, dir, name)
      if (expectedTxn >= 0 && prev.map(_.txn).getOrElse(-1L) != expectedTxn)
        throw new java.io.IOException(
          s"txn group $name is at txn ${prev.map(_.txn).getOrElse(-1L)}, expected $expectedTxn " +
            "— a concurrent or replayed commit; re-read and retry")
      val txnId = prev.map(_.txn).getOrElse(0L) + 1
      if (!createExclusive(fs, claimPath(dir, name, txnId)))
        throw new MergeOnRead.ConcurrentWriterException(
          s"txn group $name: txn $txnId is claimed — a concurrent writer is mid-commit " +
            "(re-read and retry after it finishes) or crashed (releaseStaleClaims after " +
            "confirming no writer is live)")
      try {
        // re-verify the root under the claim: a peer that claimed this
        // id, committed and released between our snapshot read and our
        // claim would otherwise be silently overwritten by our rename
        val cur = snapshot(spark, dir, name)
        if (cur.map(_.txn) != prev.map(_.txn))
          throw new MergeOnRead.ConcurrentWriterException(
            s"txn group $name: root advanced to txn ${cur.map(_.txn).getOrElse(-1L)} while " +
              s"acquiring the claim on $txnId — a peer committed; re-read and retry")
        val prevGens = prev.map(_.gens).getOrElse(Map.empty)
        // next generation per updated table: past every directory on disk
        // (committed or orphaned) so a crashed writer's leftovers never
        // collide with ours
        val written = updates.map { case (t, df) =>
          val tDir = new Path(s"$dir/$name.txndata/$t")
          val onDisk =
            if (!fs.exists(tDir)) Seq.empty
            else fs.listStatus(tDir).toSeq
              .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
          val next = (onDisk ++ prevGens.get(t)).maxOption.getOrElse(0L) + 1
          df.write.mode("overwrite").parquet(genPath(dir, name, t, next).toString)
          t -> next
        }
        val newGens = prevGens ++ written
        val lastBatch =
          if (batchId >= 0) batchId else prev.map(_.lastBatch).getOrElse(-1L)
        val line = s"txn=$txnId" +
          (if (lastBatch >= 0) s";batch=$lastBatch" else "") +
          ";tables=" +
          newGens.toSeq.sortBy(_._1).map { case (t, g) => s"$t:$g" }.mkString(",")
        replaceFile(spark, rootPath(dir, name), line + "\n")
        // prune: every table directory not referenced by THIS or the
        // PREVIOUS snapshot (one-commit reader grace) goes — that covers
        // crashed-writer orphans and history beyond the grace window
        newGens.keys.foreach { t =>
          val tDir = new Path(s"$dir/$name.txndata/$t")
          val keep = Set(newGens.get(t), prevGens.get(t)).flatten
          if (fs.exists(tDir)) fs.listStatus(tDir).toSeq
            .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
            .filterNot(keep.contains)
            .foreach(g => fs.delete(genPath(dir, name, t, g), true))
        }
        txnId
      } finally fs.delete(claimPath(dir, name, txnId), false)
    }
  }
}
