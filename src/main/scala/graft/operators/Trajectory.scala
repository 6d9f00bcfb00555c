package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** SESSION-TRAJECTORY ASSEMBLY (SURVEY §2.9 corpus-construction
  * family, beside q63's sequence packing): turn the raw event firehose
  * into ordered per-session action sequences — the
  * "user trajectory" training examples a behavioral / recommendation /
  * agent model consumes (ordered event-type strings, one per
  * gap-bounded session). q44 counts sessions; this ASSEMBLES them:
  * the step from sessionization-as-analytics to
  * sessionization-as-training-data.
  *
  * Gap-based sessionization (a new session opens after
  * [[TrajectoryGapMin]] minutes of silence), then an order-preserving
  * fold of the session's events into one `a>b>c` trajectory string.
  *
  * Scale shape: ONE shuffle by `user_id` (the lag window and the
  * running-sum session id share the same partitioning, so Catalyst
  * plans one Exchange + two Window nodes over it), then the session
  * aggregate reuses that partitioning (group keys prefix-match the
  * window keys). Assembly is `collect_list` of (ts, event_id, type)
  * structs per SESSION — state bounded by session length, never by
  * user history. Ties order by (ts, event_id) on both engines, so the
  * string is deterministic. */
object Trajectory extends graft.QueryModule {

  /** Session gap, minutes (fixture-calibrated: 480 min yields
    * multi-event sessions — mean 2.1, max 15 — on the synthetic
    * firehose whose per-user inter-arrival is ~150 min; q44's 30-min
    * analytics gap would fragment it to mean 1.05). */
  val TrajectoryGapMin = 480L

  /** [[assembled]] plus the session's last-event timestamp — the
    * stream twin's emission cutoff needs it (sessions close when the
    * watermark passes `last_ev + gap`). */
  private[graft] def assembledFull(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = TrajectoryGapMin * 60L * 1000000L
    val sessioned = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk",
        when(col("gap_us").isNull || col("gap_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessioned
      .groupBy("user_id", "sess")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("last_ev"),
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            sort_array(collect_list(struct(
              col("ts"), col("event_id"), col("event_type")))),
            e => e.getField("event_type")),
          ">").as("trajectory"))
      .drop("sess")
      .orderBy("user_id", "session_start")
  }

  /** The assembled trajectories over ANY (user_id, ts, event_id,
    * event_type) frame — also the q208 stream twin's batch oracle
    * shape. */
  private[graft] def assembled(ev: DataFrame): DataFrame =
    assembledFull(ev).drop("last_ev")

  /** q207 — assembled trajectories of `dir`'s event stream. */
  def q207SessionTrajectories(spark: SparkSession, dir: String): DataFrame = {
    assembled(Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type"))
  }

  /** q239 — SESSION TRANSITION MATRIX: first-order Markov transition
    * counts and probabilities between consecutive event types WITHIN
    * q207's sessions (a transition never crosses a session boundary —
    * the silence gap that opens a new session is precisely "no
    * transition"). This is the model behind the trajectories: q207
    * emits the training sequences, this emits the statistics a
    * behavior/agent model (or an anomaly rule like q155's) is fitted
    * against — q159 is this operator at token grain, here at
    * action grain with session-gap semantics.
    *
    * Scale shape: the SAME single user-keyed Exchange as q207 (the lag
    * window for gap and predecessor share one partitioning), then a
    * (from, to)-grain aggregate — output bounded by |event types|²,
    * trivially small at any corpus scale; per-from totals attach as a
    * broadcast. `p_micro` divides in DECIMAL(38,0) (the q216 width
    * contract: a 100 TB firehose's transition count would wrap an
    * int64 ×1e6). */
  def q239TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    transitionsOver(Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type"))
  }

  /** Within-session consecutive-event pairs over ANY (user_id, ts,
    * event_id, event_type) frame: each row is a transition
    * (from_type → event_type) — the first event of a user has no
    * predecessor, and a gap beyond the session bound is a session
    * break, not a transition. ONE user-keyed Exchange; shared by the
    * matrix and the rare-transition audit, whose plans therefore reuse
    * the same shuffle (ReusedExchange). */
  private[graft] def pairedOver(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = TrajectoryGapMin * 60L * 1000000L
    ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull && col("gap_us") <= gapUs)
  }

  /** The [[q239TransitionMatrix]] columns over a [[pairedOver]] frame. */
  private[graft] def matrixOver(paired: DataFrame): DataFrame = {
    val counts = paired
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    counts.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n) div n_from AS BIGINT)")
          .as("p_micro"))
  }

  /** The matrix over ANY (user_id, ts, event_id, event_type) frame —
    * the generic body the spec drives with crafted sessions. */
  private[graft] def transitionsOver(ev: DataFrame): DataFrame =
    matrixOver(pairedOver(ev)).orderBy("from_type", "to_type")

  /** Flow length for [[q240FlowMining]] — action trigrams, the
    * shortest pattern that captures "what users do next next". */
  val FlowGram = 3
  /** Report size — deterministic top-k with (count DESC, flow ASC)
    * tie-break. */
  val FlowTopK = 20

  /** q240 — FREQUENT-FLOW MINING: the top-[[FlowTopK]] action
    * [[FlowGram]]-grams across all sessions — the "common user flows"
    * a product/agent team reads next to the q84 funnel (which checks
    * ONE hypothesized flow; this DISCOVERS the flows worth
    * hypothesizing), and the session-grain analogue of q201's
    * within-document template spans. Overlapping occurrences all
    * count (a session `a>b>a>b>a` contributes `a>b>a` twice — the
    * q201/q206 counting convention).
    *
    * Scale shape: rides q207's session assembly (one user-keyed
    * Exchange), then grams are built ROW-LOCALLY over each session's
    * ordered action array (`transform` over indices, the q201 shape —
    * no explode until the grams exist), partially aggregated to
    * (flow)-grain, and the report is a TakeOrderedAndProject top-k,
    * never a global sort. */
  def q240FlowMining(spark: SparkSession, dir: String): DataFrame = {
    flowsOver(Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type"))
  }

  /** The mined flows over ANY events-shaped frame. */
  private[graft] def flowsOver(ev: DataFrame): DataFrame = {
    val acts = assembledFull(ev)
      .select(split(col("trajectory"), ">").as("a"))
      .filter(size(col("a")) >= FlowGram)
    val grams = acts.select(explode(
      transform(sequence(lit(1), size(col("a")) - (FlowGram - 1)),
        i => concat_ws(">", (0 until FlowGram).map(k => element_at(col("a"), i + k)): _*)))
      .as("flow"))
    grams.groupBy("flow").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("flow"))
      .limit(FlowTopK)
  }

  /** Rarity floor for [[q241RareTransitions]], in transition-probability
    * micros. Fixture-calibrated: the synthetic firehose's 25 transition
    * cells sit near-uniform around 200k micros (~180k–223k at sf0.01,
    * converging to ~194k–209k at the 10× tree), so 197k flags the
    * genuinely-thin cells at EVERY fixture scale while keeping the
    * bulk — a deployment sets the floor from its own matrix (and
    * freezes YESTERDAY'S matrix, where the fixture self-fits for
    * determinism — the q195 centroid convention). */
  val RareMicro = 197000L

  /** q241 — RARE-TRANSITION AUDIT: every within-session transition
    * whose model probability sits below [[RareMicro]] — the
    * behavioral-anomaly companion to q155's volume anomalies (a bot
    * does the IMPROBABLE step; it rarely changes the event count), and
    * what the q239 matrix is FOR: q239 fits the model, this applies
    * it. Flagged rows are the events an abuse/quality pipeline routes
    * to review.
    *
    * Scale shape: the transition pairs and the matrix derive from the
    * SAME [[pairedOver]] lineage, so the user-keyed Exchange is
    * planned once and reused; the matrix attaches as a
    * \|types\|²-row broadcast; output is flagged-transition-sized. */
  def q241RareTransitions(spark: SparkSession, dir: String): DataFrame = {
    rareOver(Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type"))
  }

  /** The audit over ANY events-shaped frame — also the
    * `rare_transitions()` TVF body and the q242 stream twin's batch
    * definition. */
  private[graft] def rareOver(ev: DataFrame): DataFrame = {
    val paired = pairedOver(ev)
    val m = matrixOver(paired).select("from_type", "to_type", "p_micro")
    paired
      .select(col("user_id"), col("event_id"), col("from_type"),
        col("event_type").as("to_type"))
      .join(broadcast(m), Seq("from_type", "to_type"))
      .filter(col("p_micro") < RareMicro)
      .select("user_id", "event_id", "from_type", "to_type", "p_micro")
      .orderBy("user_id", "event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_session_trajectories" -> (q207SessionTrajectories _),
    "q239_transition_matrix" -> (q239TransitionMatrix _),
    "q240_flow_mining" -> (q240FlowMining _),
    "q241_rare_transitions" -> (q241RareTransitions _))

  /** The shared sessionize-and-assemble SQL (also the q208 stream
    * oracle's body): lag-gap chain + running sum, trajectory via
    * ORDER BY (ts, event_id) string_agg. */
  private[graft] def oracleCtes: String =
    s"""g AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    epoch_us(ts) - lag(epoch_us(ts))
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
       |  FROM events),
       |s AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    sum(CASE WHEN gap_us IS NULL
       |             OR gap_us > ${TrajectoryGapMin * 60L * 1000000L}
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM g),
       |sess AS (
       |  SELECT user_id, min(ts) AS session_start, max(ts) AS last_ev,
       |    count(*) AS n_events,
       |    string_agg(event_type, '>' ORDER BY ts, event_id) AS trajectory
       |  FROM s GROUP BY user_id, sess)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q207_session_trajectories" ->
      s"""WITH $oracleCtes
         |SELECT user_id, session_start, n_events, trajectory
         |FROM sess ORDER BY user_id, session_start""".stripMargin,
    // q239: the same lag chain, transitions kept only within the gap
    // bound; probabilities replayed in HUGEINT (the width contract)
    "q239_transition_matrix" ->
      s"""WITH g AS (
         |  SELECT user_id, event_type,
         |    epoch_us(ts) - lag(epoch_us(ts))
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
         |    lag(event_type)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
         |  FROM events),
         |t AS (
         |  SELECT from_type, event_type AS to_type, count(*) AS n
         |  FROM g
         |  WHERE from_type IS NOT NULL
         |    AND gap_us <= ${TrajectoryGapMin * 60L * 1000000L}
         |  GROUP BY 1, 2),
         |tot AS (SELECT from_type, sum(n) AS n_from FROM t GROUP BY 1)
         |SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
         |  CAST(tot.n_from AS BIGINT) AS n_from,
         |  CAST((CAST(1000000 AS HUGEINT) * t.n) // tot.n_from AS BIGINT)
         |    AS p_micro
         |FROM t JOIN tot USING (from_type)
         |ORDER BY from_type, to_type""".stripMargin,
    // q241: the q239 CTEs plus the pair-to-model join under the floor
    "q241_rare_transitions" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_us(ts) - lag(epoch_us(ts))
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
         |    lag(event_type)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
         |  FROM events),
         |p AS (
         |  SELECT user_id, event_id, from_type, event_type AS to_type
         |  FROM g
         |  WHERE from_type IS NOT NULL
         |    AND gap_us <= ${TrajectoryGapMin * 60L * 1000000L}),
         |t AS (
         |  SELECT from_type, to_type, count(*) AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (SELECT from_type, sum(n) AS n_from FROM t GROUP BY 1),
         |m AS (
         |  SELECT t.from_type, t.to_type,
         |    CAST((CAST(1000000 AS HUGEINT) * t.n) // tot.n_from AS BIGINT)
         |      AS p_micro
         |  FROM t JOIN tot USING (from_type))
         |SELECT p.user_id, p.event_id, p.from_type, p.to_type, m.p_micro
         |FROM p JOIN m ON p.from_type = m.from_type AND p.to_type = m.to_type
         |WHERE m.p_micro < $RareMicro
         |ORDER BY user_id, event_id""".stripMargin,
    // q240: the shared session CTEs, 3-grams via 1-based list slicing
    // (the q201 convention), deterministic (n DESC, flow) top-k
    "q240_flow_mining" ->
      s"""WITH $oracleCtes,
         |acts AS (
         |  SELECT string_split(trajectory, '>') AS a
         |  FROM sess WHERE n_events >= $FlowGram),
         |gr AS (
         |  SELECT unnest(list_transform(range(1, len(a) - ${FlowGram - 2}),
         |    i -> array_to_string(list_slice(a, CAST(i AS INTEGER),
         |      CAST(i AS INTEGER) + ${FlowGram - 1}), '>'))) AS flow
         |  FROM acts)
         |SELECT flow, CAST(count(*) AS BIGINT) AS n
         |FROM gr GROUP BY flow
         |ORDER BY n DESC, flow LIMIT $FlowTopK""".stripMargin)
}
