package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Sessions
import graft.operators.{Cms, Dedup}

/** STREAMING Count-Min sketch: q169's 5-gram-frequency sketch maintained
  * AT INGEST — each arriving document increments its shingles' d cells,
  * so the corpus-wide n-gram frequency oracle is always current instead
  * of rebuilt by a batch scan. The CMS cell monoid is what makes this
  * exact, not approximate-on-top-of-approximate: cells merge by
  * addition with zero error growth, so the incrementally-maintained
  * sketch IS the batch sketch bit-for-bit (the spec and the oracle both
  * assert cell-level equality, not estimate-level closeness). Completes
  * the sketch-maintenance story next to the MG heavy hitters stream
  * (q145) the way q169 sits next to q90 in batch.
  *
  * Scale posture: state is the sketch itself — AT MOST d·w = 4096
  * counters TOTAL (not per key, not per shard), regardless of corpus
  * size or vocabulary; that hard bound is the entire point of sketching
  * the firehose. Per-document work is map-only shingling plus d hash
  * slices per shingle ([[Cms.bucketCols]], shared with batch so twin
  * equality is by construction); increments shuffle keyed by cell id,
  * 4096 distinct keys. Each batch APPENDS refreshed counters tagged
  * with their monotone value; the post-drain keeps each cell's max —
  * the [[HeavyHittersStream]] convention for converging multi-batch
  * drains without an end-of-stream hook.
  *
  * Reference scope: the reference has no sketch surface at all
  * (`sql/sample_athena_queries.sql` is exact GROUP BYs); this is the
  * §2.9 extension family's streaming leg.
  */
object CmsStream extends graft.QueryModule {

  private[streaming] case class CellRow(cell: Int)
  private[streaming] case class CellCount(cell: Int, n: Long)
  private[streaming] case class CellState(n: Long)
  private[streaming] case class CellOut(cell: Int, n: Long)

  /** Map-side combine of raw increments: each input partition reduces
    * its increments to at most d·w = 4096 (cell, count) rows BEFORE
    * the stateful shuffle — the same partial-aggregation posture the
    * batch sketch gets from Spark's HashAggregate for free. Without
    * this the shuffle carries every (doc, shingle, row) increment;
    * with it, ≤ 4096 rows per partition regardless of corpus size. */
  private[streaming] def combineLocal(
      it: Iterator[CellRow]): Iterator[CellCount] = {
    val m = new java.util.HashMap[Int, Long]()
    it.foreach(r => m.merge(r.cell, 1L, (a, b) => a + b))
    val out = scala.collection.mutable.ArrayBuffer.empty[CellCount]
    m.forEach((k, v) => { out += CellCount(k, v); () })
    out.iterator
  }

  /** Fold a batch of arriving pre-combined counts into one cell's
    * counter. The emitted value is the cell's running total —
    * monotone, so the latest emission per cell is its max and
    * multi-batch drains converge without ordering assumptions. */
  private[streaming] def cellUpdate(
      cell: Int,
      rows: Iterator[CellCount],
      state: GroupState[CellState]): Iterator[CellOut] = {
    val prev = if (state.exists) state.get.n else 0L
    var add = 0L
    rows.foreach(add += _.n)
    val n = prev + add
    state.update(CellState(n))
    Iterator.single(CellOut(cell, n))
  }

  /** q172 — the incrementally-maintained sketch cells after draining the
    * document firehose: (r, b, cell), one row per non-empty counter,
    * equal to the batch sketch ([[Cms.exactCells]]) by the cell monoid. */
  def q172StreamCms(spark: SparkSession, dir: String): DataFrame = {
    Sessions.prepare(spark)
    import spark.implicits._
    val stream = spark.readStream
      .schema(DedupStream.docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val increments = graft.core.Tables.fanout(spark, stream)
      .select(explode(Dedup.shingleArray(coalesce(col("text"), lit("")))).as("s"))
      .select(posexplode(array(Cms.bucketCols(col("s")): _*)).as(Seq("r", "b")))
      .select((col("r") * Cms.W + col("b")).cast("int").as("cell"))
      .as[CellRow]
    val summaries = increments
      .mapPartitions(combineLocal) // map-side combine: ≤ d·w rows/partition
      .groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(cellUpdate)
      .toDF()
    val drained = EventStream.drainToFiles(spark, summaries)
    drained
      .groupBy("cell").agg(max(col("n")).as("cell_count"))
      .select(
        (col("cell") / Cms.W).cast("long").as("r"),
        (col("cell") % Cms.W).cast("long").as("b"),
        col("cell_count"))
      .orderBy("r", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q172_stream_cms" -> (q172StreamCms _))

  /** Full value oracle: the batch sketch cells rebuilt in SQL — every
    * (document, shingle) occurrence hashed to its d cells with the
    * q169 nibble arithmetic, counted per cell. */
  val oracles: Map[String, String] = Map(
    "q172_stream_cms" -> {
      val rows = (0 until Cms.D).map { r =>
        s"($r, (${graft.operators.Sampling.hex4Sql("hx", 1 + 4 * r)}) % ${Cms.W})"
      }
      s"""WITH sh AS MATERIALIZED (
         |  SELECT unnest(list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
         |    i -> array_to_string(list_slice(w, CAST(i AS INTEGER), CAST(i AS INTEGER) + 4), ' ')))) AS s
         |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)),
         |h AS (SELECT md5('cms:' || s) AS hx FROM sh),
         |c AS (SELECT r, b FROM h, LATERAL (VALUES ${rows.mkString(", ")}) AS v(r, b))
         |SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b,
         |  CAST(count(*) AS BIGINT) AS cell_count
         |FROM c GROUP BY 1, 2 ORDER BY r, b""".stripMargin
    })
}
