package graft.streaming

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {

  test("streamed windowed agg equals batch recomputation of closed windows") {
    val streamed = EventStream.q34StreamWindows(spark, sf).collect()
    assert(streamed.nonEmpty)
    // batch recomputation with the same window/watermark semantics
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.events(spark, sf)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val batch = ev
      .groupBy(window(col("ts"), EventStream.WindowDuration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
      .filter(col("w.end") <= lit(maxTs) - expr("INTERVAL 1 MINUTE"))
      .select(col("w.start").as("window_start"), col("event_type"), col("cnt"), col("total_value"))
      .collect()
    val s = streamed.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val b = batch.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(s == b, s"streamed=${s.size} batch=${b.size} diff=${(s diff b).take(3)} ${(b diff s).take(3)}")
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.q77StreamJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(streamed.nonEmpty, "fixture has click->purchase pairs inside the window")
    val ev = graft.core.Tables.events(spark, sf)
    def sideOf(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("ts"))
    val c = sideOf("click").toDF("user_id", "click_id", "cts")
    val p = sideOf("purchase").toDF("p_user", "purchase_id", "pts")
    val batch = c.join(p, col("p_user") === col("user_id") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("interval 30 minutes"))
      .select(col("purchase_id"), col("click_id"), col("p_user"),
        ((unix_micros(col("pts")) - unix_micros(col("cts"))) / 1000000L).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(streamed == batch, s"stream join must equal batch: ${streamed.size} vs ${batch.size}")
    // every attribution respects the window
    streamed.foreach { case (_, _, _, gap) => assert(gap >= 0 && gap <= 1800) }
  }

  test("RocksDB state store produces identical results to the default store") {
    val base = EventStream.q44StreamSessions(spark, sf).collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.streaming.stateStoreProvider", "rocksdb")
    try {
      assert(EventStream.providerClass(spark).contains("RocksDBStateStoreProvider"))
      val rocks = EventStream.q44StreamSessions(spark, sf).collect().map(_.toString).sorted.toSeq
      assert(rocks == base, "state-store backend must never change results")
    } finally spark.conf.unset("spark.graft.streaming.stateStoreProvider")
  }

  test("a user's explicit RocksDB conf value survives a RocksDB drain") {
    val key = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    spark.conf.set(key, "true")
    spark.conf.set("spark.graft.streaming.stateStoreProvider", "rocksdb")
    try {
      EventStream.q44StreamSessions(spark, sf).collect()
      assert(spark.conf.getOption(key).contains("true"),
        "the drain's RocksDB tuning must restore the user's explicit value")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset("spark.graft.streaming.stateStoreProvider")
    }
  }

  test("stream-static enrich join equals the batch star join, event-complete") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.q79StreamEnrich(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    val events = graft.core.Tables.events(spark, sf)
    val batch = events
      .join(graft.core.Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .join(graft.core.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("n_name").as("nation"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(streamed.toSeq == batch.toSeq)
    // the fixture's user ids all resolve to a customer: enrich loses no events
    assert(streamed.length.toLong == events.count(),
      "every event must survive the dimension joins")
  }

  test("streaming dedup emits exactly the distinct-content fingerprints") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.q48StreamDedup(spark, sf).collect().map(_.getString(0))
    val batch = graft.core.Tables.documents(spark, sf)
      .select(md5(trim(col("text"))).as("fp")).distinct()
      .orderBy("fp").collect().map(_.getString(0))
    assert(streamed.length == streamed.distinct.length, "no duplicate emissions")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("bounded-state dedup (within watermark) equals batch distinct on a single drain") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.q56StreamDedupBounded(spark, sf).collect().map(_.getString(0))
    val batch = graft.core.Tables.events(spark, sf)
      .select(md5(concat_ws("#", col("user_id"), col("event_type"))).as("fp"))
      .distinct().orderBy("fp").collect().map(_.getString(0))
    assert(streamed.nonEmpty)
    assert(streamed.length == streamed.distinct.length, "no duplicate emissions")
    assert(streamed.toSeq == batch.toSeq)
  }
}
