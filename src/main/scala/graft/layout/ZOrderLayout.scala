package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Z-ORDER (Morton) DATA LAYOUT — multi-dimensional clustering for
  * min/max pruning (Morton 1966; the technique behind Delta/Iceberg
  * `OPTIMIZE ZORDER BY`): rows sort by the bit-interleaving of their
  * dimension ranks, so every output FILE covers a small hyper-rectangle
  * of the key space instead of a thin slice of one dimension. A
  * single-column sort prunes perfectly on that column and not at all
  * on any other; the z-curve makes file-level min/max statistics
  * selective on EVERY interleaved dimension at once — which at 100 TB
  * is the difference between "scan the table" and "open 3 of 64 files"
  * for a predicate on the non-sort column.
  *
  * Mechanics here (all public-knowledge bit tricks):
  *  - each dimension is scaled to a 16-bit rank against its
  *    driver-collected min/max (two scalars per column — a bounded
  *    stats read, the same information a table format keeps anyway);
  *  - ranks spread to alternating bits with the classic
  *    shift-or-mask ladder (`(x | x<<8) & 0x00FF00FF …`), interleaved
  *    by a final shift-or — pure Catalyst column arithmetic, codegen
  *    end-to-end, no UDF;
  *  - one `orderBy(z)` global sort (range-partitioned, parallel)
  *    writes [[ZFiles]] files, each a compact z-range.
  *
  * The layout is an ENGINE ARTIFACT (like [[BucketedLayout]]'s
  * buckets): the q181 gate queries the z-ordered copy with a
  * two-dimensional range predicate and hash-matches the DuckDB oracle
  * computed on the ORIGINAL table — correctness independent of layout
  * — while `ZOrderLayoutSpec` asserts the pruning property itself:
  * for a value-band predicate, far fewer z-files intersect than
  * single-column-sorted files. */
object ZOrderLayout extends graft.QueryModule {

  /** Output file count of the z-ordered rewrite (a 100 TB table
    * z-orders per partition; this is the per-partition unit). */
  val ZFiles = 16

  /** Bits per dimension in the interleave. */
  val RankBits = 16

  /** Spread the low 16 bits of `x` to the even bit positions of a
    * 32-bit lane: the shift-or-mask ladder. */
  private[layout] def spread16(x: Column): Column = {
    val m1 = lit(0x00FF00FFL); val m2 = lit(0x0F0F0F0FL)
    val m3 = lit(0x33333333L); val m4 = lit(0x55555555L)
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(m1)
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(m2)
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(m3)
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(m4)
  }

  /** Reference implementation of [[spread16]] for the spec. */
  private[layout] def spread16Ref(x0: Long): Long = {
    var x = x0 & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    (x | (x << 1)) & 0x55555555L
  }

  /** Largest span for which [[rank16]] is bit-exact: the truncating-
    * division identity `(n − n%d)/d` runs Spark's long `/` in DOUBLE,
    * which is exact only while the numerator `(x − lo)·65535` stays
    * under 2⁵³ — so span ≤ 2⁵³/65535 ≈ 1.37e11. [[ensure]] asserts it
    * against the collected min/max (the Sq/ntileOfRank magnitude
    * convention: guard the identity, don't let it decay silently). */
  private[layout] val MaxRankSpan: Long = (1L << 53) / 65535L

  /** 16-bit rank of `x` within [lo, hi] (inclusive), integer-exact
    * while `hi − lo ≤` [[MaxRankSpan]]:
    * `(x − lo) · 65535 div (hi − lo)`. */
  private[layout] def rank16(x: Column, lo: Long, hi: Long): Column =
    if (hi == lo) lit(0L)
    else {
      // exact truncating division on non-negatives (the Sq identity)
      val n = (x - lit(lo)) * 65535L
      val d = hi - lo
      ((n - n % d) / d).cast("long")
    }

  /** The Morton code of two 16-bit ranks. */
  private[layout] def morton(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Integer micro view of the two clustered dimensions: user_id and
    * value in cents (the q85 cents convention — value is a 2-dp
    * currency-like double in the fixture). */
  private def dims(df: DataFrame): DataFrame =
    df.withColumn("value_cents", floor(col("value") * 100 + lit(0.5)).cast("long"))

  /** Ensure the z-ordered copy of `events` for `dir` (a temp directory
    * in the [[graft.core.ArtifactStore]]); returns its path. The rewrite:
    * rank both dims against collected min/max, interleave, ONE global
    * sort by z, [[ZFiles]] files. */
  def ensure(spark: SparkSession, dir: String): String =
    graft.core.ArtifactStore.tempDir(spark, dir, Seq("events.parquet"), "zorder") { out =>
      val ev = dims(Tables.events(spark, dir))
      val r = ev.agg(
        min("user_id"), max("user_id"), min("value_cents"), max("value_cents")).collect()(0)
      val (uLo, uHi, vLo, vHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      require(uHi - uLo <= MaxRankSpan && vHi - vLo <= MaxRankSpan,
        s"z-order dim span exceeds the rank16 exactness bound $MaxRankSpan " +
          s"(user_id span ${uHi - uLo}, value_cents span ${vHi - vLo}); " +
          "widen rank16 to guarded idiv before laying out this table")
      ev.withColumn("z", morton(
          rank16(col("user_id"), uLo, uHi), rank16(col("value_cents"), vLo, vHi)))
        .repartitionByRange(ZFiles, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(out)
    }

  /** q181 — the Z-ORDER RANGE GATE: a two-dimensional range aggregate
    * over the z-ordered copy, hash-matched against the oracle on the
    * ORIGINAL table (layout must never change answers). The band is
    * chosen narrow in BOTH dimensions — the query shape z-ordering
    * exists for. The pruning property itself (few z-files intersect a
    * value band vs every single-column-sorted file) is asserted in
    * `ZOrderLayoutSpec` where the file listing is available. */
  val UserLo = 5L; val UserHi = 15L
  val CentsLo = 10000L; val CentsHi = 20000L

  def q181ZorderRange(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    // the z copy already carries value_cents, so no dims() re-derive
    rangeAggOver(spark.read.parquet(ensure(spark, dir)),
      UserLo, UserHi, CentsLo, CentsHi)
  }

  /** The 2-D range aggregate over ANY frame carrying (user_id,
    * value_cents) — the q181 gate body over the z-ordered copy, and
    * (through [[rangeAggOverEvents]]) the `z_range()` TVF over the
    * named raw table. Layout never changes answers (q181's contract),
    * so the SAME aggregate serves both; what the z-order layout buys
    * is the file pruning `ZOrderLayoutSpec` asserts on the copy. */
  private[graft] def rangeAggOver(frame: DataFrame,
      uLo: Long, uHi: Long, cLo: Long, cHi: Long): DataFrame =
    frame.filter(col("user_id").between(uLo, uHi) &&
        col("value_cents").between(cLo, cHi))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value_cents")).as("sum_cents"),
        min(col("value_cents")).as("min_cents"),
        max(col("value_cents")).as("max_cents"))

  /** [[rangeAggOver]] from a RAW events frame (cents derived via the
    * shared [[dims]] convention) — the `z_range(u_lo, u_hi, cents_lo,
    * cents_hi)` TVF body. */
  private[graft] def rangeAggOverEvents(ev: DataFrame,
      uLo: Long, uHi: Long, cLo: Long, cHi: Long): DataFrame =
    rangeAggOver(dims(ev), uLo, uHi, cLo, cHi)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q181_zorder_range" -> (q181ZorderRange _))

  /** Oracle on the original events table — identical cents arithmetic
    * (floor(x·100 + 0.5): value is non-negative in the fixture). */
  val oracles: Map[String, String] = Map(
    "q181_zorder_range" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events)
         |SELECT count(*) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  CAST(min(cents) AS BIGINT) AS min_cents,
         |  CAST(max(cents) AS BIGINT) AS max_cents
         |FROM e
         |WHERE user_id BETWEEN $UserLo AND $UserHi
         |  AND cents BETWEEN $CentsLo AND $CentsHi""".stripMargin)
}
