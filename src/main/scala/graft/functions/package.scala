package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.{FloatVecDot, FloatVecMatDots, RollingHash}

/** Column-level functions of the engine.
  *
  * Everything here is either a composition of built-in (codegen'd)
  * `org.apache.spark.sql.functions` or a native Catalyst expression from
  * `graft.plans` — no Scala UDFs, so every function stays inside
  * whole-stage codegen or at worst a JVM-native higher-order function.
  */
package object functions {

  /** EPA AQI banding, replicating the reference's closed integer
    * intervals exactly (`/root/reference/dags/etl/source_to_stage.py:110-125`):
    * 0–50 Good, 51–100 Moderate, 101–150 Unhealthy for Sensitive Groups,
    * 151–200 Unhealthy, 201–300 Very Unhealthy, >300 Hazardous, and an
    * `Unknown` fall-through that catches negatives (and any fractional
    * value between the integer band edges).
    */
  def aqiCategory(aqi: Column): Column =
    when(aqi.between(0, 50), "Good")
      .when(aqi.between(51, 100), "Moderate")
      .when(aqi.between(101, 150), "Unhealthy for Sensitive Groups")
      .when(aqi.between(151, 200), "Unhealthy")
      .when(aqi.between(201, 300), "Very Unhealthy")
      .when(aqi > 300, "Hazardous")
      .otherwise("Unknown")

  /** Whitespace tokenization after lowercase + trim. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word n-grams joined by a single space; empty array when the doc has
    * fewer than n tokens.
    */
  def wordNGrams(words: Column, n: Int): Column =
    when(
      size(words) >= n,
      transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*))
    ).otherwise(array().cast("array<string>"))

  /** Distinct word n-grams of a token array via the codegen'd
    * [[graft.plans.WordNGrams]] — the fused fast path for
    * `array_distinct(wordNGrams(...))` (HOFs run outside codegen and
    * interpret their lambda per element).
    */
  def word_ngrams_distinct(tokens: Column, n: Int): Column =
    ColumnBridge.column(graft.plans.WordNGrams(ColumnBridge.expression(tokens), n))

  /** Top 40 bits of the md5 digest as a long — the AVALANCHED uniform
    * on the 2⁴⁰ grid (first 10 hex chars, big-endian), replayable in
    * any engine as the same hex-digit fold. The draw behind the
    * derandomized-noise operators (DP release, Poisson bootstrap):
    * unlike the linear rolling hash, pairwise digest differences carry
    * no input structure.
    */
  def md5_u40(c: Column): Column =
    conv(substring(md5(c), 1, 10), 16, 10).cast("long")

  /** Count of non-overlapping occurrences of literal `pat` (exact
    * integer arithmetic — no regex, no floats).
    */
  def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / pat.length)
      .cast("int")

  /** Native codegen'd dot product over two array<float> columns
    * (graft.plans.FloatVecDot).
    */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatVecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm of an array<float> column. */
  def vec_norm(a: Column): Column = sqrt(vec_dot(a, a))

  /** Dot products of a vector column against a constant matrix, each
    * divided by `div` (graft.plans.FloatVecMatDots): the centroid /
    * codebook scoring primitive — one tiny JIT-able loop instead of k
    * unrolled vec_dot's that push the fused codegen method past the
    * JVM's 8 KB JIT ceiling.
    */
  def vec_mat_dots(v: Column, mat: Array[Array[Float]], div: Column): Column =
    ColumnBridge.column(FloatVecMatDots(
      ColumnBridge.expression(v),
      mat.map(_.toIndexedSeq).toIndexedSeq,
      ColumnBridge.expression(div)))

  /** 64-bit polynomial rolling hash of a string (graft.plans.RollingHash):
    * the cheap, composable fingerprint primitive for document dedup.
    */
  def rolling_hash(c: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c)))

  /** Unicode NFC normalization ([[graft.plans.NfcNormalize]], codegen'd
    * with an isNormalized fast path) — canonical composed form, so
    * decomposed and precomposed spellings fingerprint identically.
    */
  def nfc(c: Column): Column =
    ColumnBridge.column(graft.plans.NfcNormalize(ColumnBridge.expression(c)))

  /** Uniform 32-bit hash of a string: [[rolling_hash]] pushed through
    * the [[graft.plans.MixHash32]] avalanche finalizer. Use this (not a
    * bit-slice of the raw fold) wherever uniformity matters — KMV
    * order statistics, bucket assignment.
    */
  def mixed_hash32(c: Column): Column =
    ColumnBridge.column(graft.plans.MixHash32(ColumnBridge.expression(rolling_hash(c))))

  /** Per-pattern all-occurrence counts from ONE Aho–Corasick pass
    * ([[graft.plans.MultiPatternCount]]): array<long> aligned with
    * `patterns`. The blocklist/policy-term scanning primitive.
    */
  def multi_count(text: Column, patterns: Seq[String]): Column =
    ColumnBridge.column(
      graft.plans.MultiPatternCount(ColumnBridge.expression(text), patterns))

  /** 64-bit average-hash of a binary payload
    * ([[graft.plans.AHash64]]) — the multimodal perceptual
    * fingerprint; exact integer arithmetic, engine-replayable.
    */
  def ahash64(c: Column): Column =
    ColumnBridge.column(graft.plans.AHash64(ColumnBridge.expression(c)))

  /** Per-block integer PCM energy of a binary payload
    * ([[graft.plans.ByteBlockEnergy]]): array<long>, one entry per
    * `blockSize`-byte block — the silence-detection primitive.
    */
  def byte_block_energy(c: Column, blockSize: Int, center: Int): Column =
    ColumnBridge.column(
      graft.plans.ByteBlockEnergy(ColumnBridge.expression(c), blockSize, center))
}
