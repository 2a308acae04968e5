package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Specification of an SCD-1 keyed merge.
  *
  * @param keys         merge key columns (the business key)
  * @param updateCols   target columns refreshed from the source on match;
  *                     all other target data columns keep the target value
  *                     (the reference's merges refresh only a subset — e.g.
  *                     `/root/reference/dags/etl/stage_to_nds.py:9-32` updates
  *                     only `state_name` + `last_updated_nds` on match)
  * @param nullSafeKeys when true, NULL keys match NULL keys (`<=>`),
  *                     replicating the reference's NULL-fips collision in the
  *                     county upsert (`stage_to_nds.py:50-81`, where
  *                     `filter_by(county_fips=None)` emits `IS NULL`)
  * @param createdCol   audit column stamped `now` on insert, preserved on match
  * @param updatedCol   audit column stamped `now` whenever the source touches
  *                     the row (match or insert), preserved otherwise
  * @param statusCol    optional diagnostic column: updated / inserted / kept
  * @param touchCols    data columns stamped `now` on match but taking the
  *                     source value on insert — the reference's measurement
  *                     merge stamps `last_updated = utcnow()` on match while
  *                     inserts carry the staged value
  *                     (`stage_to_nds.py:152-153` vs `:164`)
  */
final case class MergeSpec(
    keys: Seq[String],
    updateCols: Seq[String],
    nullSafeKeys: Boolean = false,
    createdCol: Option[String] = None,
    updatedCol: Option[String] = None,
    statusCol: Option[String] = None,
    touchCols: Seq[String] = Seq.empty)

/** Join-based SCD-1 merge — the engine's replacement for the reference's
  * row-at-a-time upserts (`/root/reference/dags/etl/stage_to_nds.py:9-32,
  * 50-81,141-176`, one or two Postgres round trips per row).
  *
  * Expressed as one full-outer join + per-column `when` resolution, so
  * Catalyst plans it as a single shuffle (or broadcast when one side is a
  * small dim) and the whole merge is set-oriented: at 100 TB the cost is
  * one co-partitioned join on the merge key instead of N round trips.
  * Presence on either side is tracked with marker columns rather than
  * key-null checks so null-safe key merges stay correct.
  */
object Merge {

  private val TMarker = "__merge_t_present"
  private val SMarker = "__merge_s_present"

  /** Pure transform returning the post-merge state of the target. */
  def scd1(target: DataFrame, source: DataFrame, spec: MergeSpec, now: Column): DataFrame = {
    // an audit column the target does not yet carry (first load into an
    // empty table created from the source schema) starts as NULL — every
    // row then takes the insert branch and stamps `now`
    val target1 = (spec.createdCol.toSeq ++ spec.updatedCol.toSeq)
      .foldLeft(target)((df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast("timestamp")))
    val t = target1.withColumn(TMarker, lit(1)).alias("__mt")
    val s = source.withColumn(SMarker, lit(1)).alias("__ms")
    def tc(c: String): Column = col(s"__mt.$c")
    def sc(c: String): Column = col(s"__ms.$c")

    val cond = spec.keys
      .map(k => if (spec.nullSafeKeys) tc(k) <=> sc(k) else tc(k) === sc(k))
      .reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val tP = col(s"__mt.$TMarker").isNotNull
    val sP = col(s"__ms.$SMarker").isNotNull
    val srcCols = source.columns.toSet
    val auditCols = (spec.createdCol.toSeq ++ spec.updatedCol.toSeq).toSet
    val dataCols = target.columns.filterNot(c =>
      spec.keys.contains(c) || auditCols.contains(c) || c == TMarker)

    val out: Seq[Column] =
      spec.keys.map(k => coalesce(tc(k), sc(k)).as(k)) ++
        dataCols.map { c =>
          if (spec.touchCols.contains(c))
            when(tP && sP, now).when(sP, sc(c)).otherwise(tc(c)).as(c)
          else if (spec.updateCols.contains(c) && srcCols(c))
            when(sP, sc(c)).otherwise(tc(c)).as(c)
          else if (srcCols(c)) when(tP, tc(c)).otherwise(sc(c)).as(c)
          else tc(c).as(c) // column the source does not provide: NULL on insert
        } ++
        spec.createdCol.map(c => when(tP, tc(c)).otherwise(now).as(c)).toSeq ++
        spec.updatedCol.map(c => when(sP, now).otherwise(tc(c)).as(c)).toSeq ++
        spec.statusCol
          .map(c =>
            when(tP && sP, lit("updated"))
              .when(sP, lit("inserted"))
              .otherwise(lit("kept"))
              .as(c))
          .toSeq

    joined.select(out: _*)
  }

  /** Partition-scoped SCD-1 merge against a directory-partitioned
    * warehouse table — the 100 TB fact-merge path. Instead of reading
    * and rewriting the whole table, the merge:
    *
    *   1. collects the source's distinct `partitionCol` values (a daily
    *      delta touches a handful of partitions — broadcast-small);
    *   2. left-semi joins the target on `partitionCol` so the scan
    *      prunes to exactly the touched partitions (partition pruning
    *      via dynamic filter — untouched partitions are never read);
    *   3. runs the ordinary [[scd1]] join on the slice;
    *   4. commits with dynamic-partition overwrite
    *      ([[graft.sources.Warehouse.overwritePartitions]]), which
    *      replaces ONLY the partitions present in the merged output.
    *
    * Requires the merge key to determine its partition (an update may
    * not move a row across partitions — the stale copy in the old
    * partition would survive). That holds for the canonical layout
    * where `partitionCol` derives from an immutable column of the key,
    * e.g. date-partitioned facts keyed on (date, entity).
    *
    * At 100 TB this turns a full-table read+rewrite (hours) into I/O
    * proportional to the delta's partition footprint (the AQI bench
    * measures the same shape end-to-end: ~31 of ~1000 date partitions).
    */
  def scd1PartitionScoped(
      spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String,
      table: String,
      partitionCol: String,
      source: DataFrame,
      spec: MergeSpec,
      now: Column): Unit = {
    import graft.sources.Warehouse
    val target = Warehouse.read(spark, warehouseDir, table)
    val affected = source.select(partitionCol).distinct()
    val slice = target.join(broadcast(affected), Seq(partitionCol), "left_semi")
    // scd1 emits columns in target-column order with keys first; restore
    // the table's physical column order for the partitioned write
    val merged = scd1(slice, source, spec, now)
      .select(target.columns.map(col).toIndexedSeq: _*)
    Warehouse.overwritePartitions(merged, warehouseDir, table, partitionCol)
  }

  /** Insert-only merge: append source rows whose key is absent from the
    * target (the reference's anti-join INSERT…SELECTs,
    * `stage_to_nds.py:113-123,125-138`).
    */
  def insertMissing(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(
      source.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti"),
      allowMissingColumns = true)

  /** Keyed table diff — change data capture between two snapshots:
    * emits one row per differing key with `change_type` of `inserted`
    * (key only in `next`), `deleted` (key only in `prev`), or
    * `changed` (present in both, any compared column differing
    * null-safely). Unchanged keys emit nothing, so the output is
    * delta-sized — the input to incremental downstream refreshes,
    * replication, and audit.
    *
    * One full-outer join on the key (single co-partitioned shuffle);
    * the column comparison is a codegen'd predicate, not a row hash,
    * so adding columns never changes existing diff results.
    */
  def diff(
      prev: DataFrame,
      next: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String],
      changeCol: String = "change_type"): DataFrame = {
    val t = prev.withColumn(TMarker, lit(1)).alias("__mt")
    val s = next.withColumn(SMarker, lit(1)).alias("__ms")
    def tc(c: String): Column = col(s"__mt.$c")
    def sc(c: String): Column = col(s"__ms.$c")
    val joined = t.join(s, keys.map(k => tc(k) === sc(k)).reduce(_ && _), "full_outer")
    val tP = col(s"__mt.$TMarker").isNotNull
    val sP = col(s"__ms.$SMarker").isNotNull
    val changed = compareCols.map(c => !(tc(c) <=> sc(c))).reduce(_ || _)
    joined
      .withColumn(changeCol,
        when(tP && sP && changed, lit("changed"))
          .when(tP && !sP, lit("deleted"))
          .when(!tP && sP, lit("inserted")))
      .filter(col(changeCol).isNotNull)
      .select(keys.map(k => coalesce(tc(k), sc(k)).as(k)) ++
        compareCols.map(c => tc(c).as(s"prev_$c")) ++
        compareCols.map(c => sc(c).as(s"next_$c")) :+ col(changeCol): _*)
  }

  /** GIT-STYLE three-way table merge — reconciling two writers that
    * branched from a common snapshot (a backfill developed against
    * yesterday's table while production kept merging, two teams
    * curating one corpus, a branch-based lakehouse workflow): per key,
    * a side that didn't change from `base` yields to the side that
    * did; both sides changed identically → that state; both changed
    * DIFFERENTLY (update-vs-update, update-vs-delete, insert-vs-insert
    * with different payloads) → a CONFLICT, resolved by `policy`
    * ("ours" | "theirs") and flagged in the output's `was_conflict`
    * column so the caller can audit (or pre-count and refuse). A key's
    * final state may be absence — deletes merge like any other change.
    *
    * Scale shape: one 3-way full-outer join on the key (two keyed
    * shuffles), each input scanned once, all classification per-row in
    * the projection — no driver-side state, no iteration; exactly the
    * [[diff]] cost paid twice. Every input must hold ONE image per key
    * ([[graft.sources.MergeOnRead.deltaMerge]]'s contract) — ENFORCED
    * IN-PLAN, because a duplicate key in any input silently fans rows
    * out through the two full-outer joins (a per-key cross product
    * masquerading as a merge): each side carries a per-key count
    * window that rides the join's own hash partitioning (the sort-merge
    * join sorts on the keys anyway — no extra pass, where the previous
    * eager unioned aggregate re-read all three inputs and doubled the
    * gate's wall time), and a guard filter raise_errors the offending
    * side + key the moment any count exceeds one. The raise surfaces
    * at ACTION time wrapped in Spark's job failure, like every
    * executor-side contract in the engine.
    */
  def threeWayMerge(
      base: DataFrame,
      ours: DataFrame,
      theirs: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String],
      policy: String = "theirs"): DataFrame = {
    require(Seq("ours", "theirs").contains(policy), "policy: ours | theirs")
    val cols = keys ++ compareCols
    val byKeys = Window.partitionBy(keys.map(col): _*)
    def side(df: DataFrame, p: String) =
      df.select(cols.map(col): _*).withColumn(s"__p$p", lit(1))
        .withColumn(s"__dup$p", count(lit(1)).over(byKeys))
        .alias(s"__m$p")
    val b = side(base, "b"); val o = side(ours, "o"); val t = side(theirs, "t")
    def kc(a: String, c: String) = col(s"__m$a.$c")
    val keyStr = concat_ws(",",
      keys.map(k => coalesce(kc("b", k), kc("o", k), kc("t", k)).cast("string")): _*)
    // absent-side rows read __dup as NULL from the outer joins — those
    // carry no duplicate, hence the coalesce(…, 1)
    val dupGuard = Seq("b" -> "base", "o" -> "ours", "t" -> "theirs").map {
      case (p, nm) =>
        when(coalesce(kc(p, s"__dup$p"), lit(1L)) > 1,
          raise_error(concat(
            lit(s"threeWayMerge: input '$nm' has duplicate key images on " +
              s"(${keys.mkString(",")}) — dedup to one image per key first " +
              "(duplicates fan out through the full-outer joins); key="),
            keyStr)))
          .otherwise(lit(true))
    }.reduce(_ && _)
    val j = b
      .join(o, keys.map(k => kc("b", k) === kc("o", k)).reduce(_ && _), "full_outer")
      .join(t,
        keys.map(k => coalesce(kc("b", k), kc("o", k)) === kc("t", k)).reduce(_ && _),
        "full_outer")
      .where(dupGuard)
    val po = kc("o", "__po").isNotNull
    val pt = kc("t", "__pt").isNotNull
    // a side "changed" iff its presence or any compared value differs
    // from the other side's (absent rows read all-NULL, so the value
    // legs agree null-safely and presence alone decides)
    def stateDiff(x: String, y: String): Column =
      (kc(x, s"__p$x").isNotNull =!= kc(y, s"__p$y").isNotNull) ||
        compareCols.map(c => !(kc(x, c) <=> kc(y, c))).reduce(_ || _)
    val och = stateDiff("o", "b")
    val tch = stateDiff("t", "b")
    val conflict = och && tch && stateDiff("o", "t")
    val useOurs = when(conflict, lit(policy == "ours")).otherwise(och)
    j.where(when(useOurs, po).otherwise(pt))
      .select(keys.map(k => coalesce(kc("b", k), kc("o", k), kc("t", k)).as(k)) ++
        compareCols.map(c => when(useOurs, kc("o", c)).otherwise(kc("t", c)).as(c)) :+
        conflict.as("was_conflict"): _*)
  }

  /** Merkle-style BUCKET digests for replica reconciliation — the
    * scale path [[diff]] needs at 100 TB: comparing two replicas by
    * full-outer join reads BOTH tables full-width even when they
    * differ in ten rows. Instead each side folds to `nBuckets` rows in
    * one combinable pass — (bucket, row count, digest sum) where the
    * digest is a caller-supplied integer fingerprint of the row on the
    * decimal(38,0) grid — and only buckets whose (count, digest) pairs
    * disagree need their rows read at all. The drill-down re-reads
    * 1/nBuckets of each table per dirty bucket (predicate-pushable:
    * the bucket is a pure function of the key).
    *
    * Digest discipline: supply a deterministic integer combination of
    * every compared column (e.g. `k·A + cents·B` with odd multipliers)
    * — exact integers, so both engines and both replicas agree
    * bit-for-bit; bucket sums stay inside decimal(38,0) up to ~10²¹
    * rows per bucket for 2⁶¹-sized digests. An adversarial collision
    * (two different row sets with equal count AND equal digest sum) is
    * the accepted trade of every anti-entropy tree; two independent
    * digests multiply the protection when it matters.
    */
  def bucketDigests(df: DataFrame, keyCol: String, digest: Column,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1)
    df.select(pmod(col(keyCol), lit(nBuckets.toLong)).as("bucket"),
        digest.cast("decimal(38,0)").as("__d"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("__d").as("digest"))
  }

  /** The buckets whose (count, digest) disagree between two replicas —
    * metadata-sized (≤ nBuckets rows); feed the bucket list back as a
    * key-derived predicate to drill into exact rows ([[diff]] on the
    * slice).
    */
  def dirtyBuckets(left: DataFrame, right: DataFrame, keyCol: String,
      digest: Column, nBuckets: Int): DataFrame = {
    val l = bucketDigests(left, keyCol, digest, nBuckets)
      .withColumnRenamed("n", "n_left").withColumnRenamed("digest", "digest_left")
    val r = bucketDigests(right, keyCol, digest, nBuckets)
      .withColumnRenamed("n", "n_right").withColumnRenamed("digest", "digest_right")
    l.join(r, Seq("bucket"), "full_outer")
      .where(!(col("n_left") <=> col("n_right")) ||
        !(col("digest_left") <=> col("digest_right")))
  }

  /** SCD-2 (full-history) merge: `history` holds every version of each
    * business key with `[validFromCol, validToCol)` validity (NULL
    * `validToCol` = current); `updates` carries one candidate row per
    * key. Where the update's payload differs from the current version
    * (null-safe comparison) the current row CLOSES (`validToCol = now`)
    * and a new version OPENS at `now`; identical payloads are no-ops;
    * keys with no current version insert. Closed history rows pass
    * through byte-untouched — history is immutable.
    *
    * Shape at scale: ONE full-outer join on the key between the CURRENT
    * slice and the updates (the same single-shuffle shape as [[scd1]]);
    * the closed slice is a filter + union that never shuffles. Pair with
    * a current-flag or validity-date partition layout so the physical
    * rewrite touches only the current partition, not the whole history.
    *
    * The up-to-two output versions per matched key are built as an
    * array of structs and exploded — no second join pass over the
    * change detection.
    *
    * `updates` must be key-unique (dedupe upstream with
    * [[graft.operators.Dedup]] / keep-first); multiple updates for one
    * key in a single apply would need an intra-batch ordering this
    * set-oriented form does not define.
    */
  def scd2(
      history: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      payloadCols: Seq[String],
      now: Column,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame = {
    val vtType = history.schema(validToCol).dataType
    val closedHist = history.filter(col(validToCol).isNotNull)
    val cur = history.filter(col(validToCol).isNull)
    val t = cur.withColumn(TMarker, lit(1)).alias("__mt")
    val s = updates.withColumn(SMarker, lit(1)).alias("__ms")
    def tc(c: String): Column = col(s"__mt.$c")
    def sc(c: String): Column = col(s"__ms.$c")
    val joined = t.join(s, keys.map(k => tc(k) === sc(k)).reduce(_ && _), "full_outer")

    val tP = col(s"__mt.$TMarker").isNotNull
    val sP = col(s"__ms.$SMarker").isNotNull
    val changed = tP && sP &&
      payloadCols.map(c => !(tc(c) <=> sc(c))).reduce(_ || _)

    val outCols = keys ++ payloadCols :+ validFromCol :+ validToCol
    def ver(src: String => Column, vf: Column, vt: Column): Column =
      struct(keys.map(k => src(k).as(k)) ++ payloadCols.map(c => src(c).as(c)) :+
        vf.as(validFromCol) :+ vt.as(validToCol): _*)
    val curVer = ver(tc, tc(validFromCol), lit(null).cast(vtType))
    val closedVer = ver(tc, tc(validFromCol), now.cast(vtType))
    val newVer = ver(sc, now.cast(vtType), lit(null).cast(vtType))

    val versions = when(changed, array(closedVer, newVer))
      .when(tP, array(curVer)) // unchanged match, or no update for the key
      .otherwise(array(newVer)) // brand-new key
    joined.select(explode(versions).as("__v"))
      .select(outCols.map(c => col(s"__v.$c").as(c)): _*)
      .unionByName(closedHist.select(outCols.map(col): _*))
  }

  /** Point-in-time (temporal) join: each fact row picks up the
    * dimension VERSION that was valid at the fact's timestamp — the
    * read side of [[scd2]], and the join that makes training features
    * leak-proof ("the customer's balance AS OF the order date", never
    * the current one). Facts with no valid version at their timestamp
    * (before the key's first version, or after its last version closed
    * — a deleted key) carry NULL dimension columns.
    *
    * Implementation is the as-of machinery, not a range join: versions
    * are keyed rows timestamped by `validFromCol`, so the latest
    * version at-or-before the fact is ONE keyed-shuffle backward as-of
    * join ([[AsOf.asofJoin]] — union + running `last()`, no pair
    * expansion); `validToCol` then decides liveness (NULL = current;
    * a fact at-or-after a closed version's end gets NULLs). Assumes
    * SCD-2 invariants: versions of a key are non-overlapping and
    * `(keys, validFromCol)` is unique — what [[scd2]] maintains.
    *
    * Output: every fact column, then `payloadCols` and `validFromCol`
    * (the matched version's start, as the version stamp), nulled where
    * no live version covers the fact.
    */
  def pointInTime(
      facts: DataFrame,
      history: DataFrame,
      keys: Seq[String],
      factTsCol: String,
      payloadCols: Seq[String],
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame = {
    require(payloadCols.nonEmpty, "pointInTime needs at least one payload column")
    val right = history.select(
      keys.map(col) ++ Seq(col(validFromCol).as(factTsCol), col(validToCol)) ++
        payloadCols.map(col): _*)
    val joined = AsOf.asofJoin(facts, right, keys, factTsCol,
      tieCol = validToCol, payloadCols = payloadCols :+ validToCol,
      matchedTsCol = validFromCol)
    val live = col(validToCol).isNull || col(factTsCol) < col(validToCol)
    joined.select(
      facts.columns.toSeq.map(col) ++
        payloadCols.map(c => when(live, col(c)).as(c)) :+
        when(live, col(validFromCol)).as(validFromCol): _*)
  }
}
