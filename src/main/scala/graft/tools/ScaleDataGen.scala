package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1-scale fixture generator: scales the driver's sf0.1
  * tables 10× so the heavy operators can be exercised at a data point the
  * provided testdata tree does not reach (it tops out at sf0.1 — every
  * 100 TB claim is otherwise argued from plan shape alone; a real 10×
  * run catches skew and memory cliffs plan inspection cannot).
  *
  * `/root/testdata` is read-only, so the scaled tree lands under a
  * scratch root (default `/tmp/graft-sf1`) with the same one-parquet-per-
  * table layout the loaders expect.
  *
  * Scaling model — `Copies` FK-consistent shards, copy c ≥ 1 offsetting
  * every key by c·(max key + 1):
  *  - star schema: keys shift together (customer ↔ orders ↔ lineitem,
  *    supplier/part ↔ lineitem), so each shard is internally consistent
  *    and join selectivities match the original; region/nation stay
  *    fixed (they are dimension constants, as in TPC-H).
  *  - documents: token sequence SHUFFLES deterministically per copy
  *    (sorted by a (token, pos, copy) hash) and a copy marker token is
  *    prepended — copies share vocabulary (real corpora do) but almost
  *    no k-shingles, so near-dup/LSH workloads keep realistic pair
  *    densities instead of exploding on 10 near-clones of every doc
  *    (a rotation would preserve the circular string's shingles).
  *    n_chars is recomputed from the new text.
  *  - embeddings: dimensions rotate by c with a deterministic per-(id,
  *    dim) jitter — similar norm/distribution, no artificial exact-dup
  *    groups.
  *  - events: ids/users offset, ts stays RAW NANOS int64 (+c minutes) so
  *    the standard `Tables.events` nanos-truncating read path applies
  *    unchanged.
  *
  * Run: `sbt "runMain graft.tools.ScaleDataGen [outDir [srcDir]]"`.
  */
object ScaleDataGen {

  val Copies = 10

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.core.Sessions.prepare(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .appName("graft-scale-datagen")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String): Unit = {
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    // one FLAT FILE per table, exactly the driver tree's layout: the
    // streaming sources address `events.parquet` with a pathGlobFilter
    // that matches leaf FILES, so a Spark-written directory of part
    // files would silently feed them zero rows
    def write(df: DataFrame, name: String): Unit = {
      import org.apache.hadoop.fs.{Path => HPath}
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val fs = new HPath(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new HPath(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $name"))
      val dest = new HPath(out, s"$name.parquet")
      fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new HPath(tmp), true)
    }

    // dimension constants: copied through unchanged
    Seq("region", "nation").foreach(n => write(read(n), n))

    val copies = explode(sequence(lit(0), lit(Copies - 1))).as("c")

    /** Offset `key` by c·(max+1); max resolved once, driver-side (a
      * metadata-cheap aggregate over the 60 MB source). */
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val custSpan = span(read("customer"), "c_custkey")
    val ordSpan = span(read("orders"), "o_orderkey")
    val suppSpan = span(read("supplier"), "s_suppkey")
    val partSpan = span(read("part"), "p_partkey")

    def shifted(name: String, shifts: Map[String, Long]): DataFrame = {
      val base = read(name).select(col("*"), copies)
      shifts.foldLeft(base) { case (df, (k, s)) =>
        df.withColumn(k, col(k) + col("c") * s)
      }.drop("c")
    }

    write(shifted("customer", Map("c_custkey" -> custSpan)), "customer")
    write(shifted("supplier", Map("s_suppkey" -> suppSpan)), "supplier")
    write(shifted("part", Map("p_partkey" -> partSpan)), "part")
    write(shifted("orders",
      Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan)), "orders")
    write(shifted("lineitem",
      Map("l_orderkey" -> ordSpan, "l_suppkey" -> suppSpan,
        "l_partkey" -> partSpan)), "lineitem")

    // events: layout-agnostic ts handling (TIMESTAMP(NANOS) fixtures
    // read as raw longs and shifted in nanos; TIMESTAMP(MICROS)/NTZ
    // fixtures shifted with an interval) — each copy lands +c minutes;
    // the raw read relies on the prepared session's nanosAsLong
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evSpan = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
    val userSpan = ev.agg(max(col("user_id"))).head.getLong(0) + 1L
    val tsShift: org.apache.spark.sql.Column =
      ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("ts") + col("c") * lit(60000000000L) // +c minutes, nanos
        case _ => col("ts") + col("c") * expr("INTERVAL 1 MINUTE")
      }
    write(ev.select(col("*"), copies)
      .withColumn("event_id", col("event_id") + col("c") * evSpan)
      .withColumn("user_id", col("user_id") + col("c") * userSpan)
      .withColumn("ts", tsShift)
      .drop("c"), "events")

    val docs = read("documents")
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // deterministic per-copy token SHUFFLE (sort by a (token, pos, copy)
    // hash), not a rotation: a rotation preserves almost every k-shingle
    // (it is the same circular string), which made all ten copies of a
    // doc near-dups of each other and exploded the pair family 40x —
    // shuffling keeps the vocabulary (real corpora share one) while
    // destroying shingle overlap, so pair densities stay realistic
    val shuffled = transform(
      array_sort(zip_with(col("t"),
        sequence(lit(0), greatest(size(col("t")), lit(1)) - 1),
        (t, i) => struct(xxhash64(t, i, col("c")).as("k"), t.as("tok")))),
      e => e.getField("tok"))
    write(docs.select(col("doc_id"), toks.as("t"), col("lang"), col("source"), copies)
      .withColumn("text",
        when(col("c") === 0, concat_ws(" ", col("t")))
          .otherwise(concat_ws(" ",
            concat(array(concat(lit("rep"), col("c"), lit("d"), col("doc_id"))),
              shuffled))))
      .select(
        (col("doc_id") + col("c") * docSpan).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")

    val emb = read("embeddings")
    val vecSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    // rotate dims by c and add a deterministic ±1.5% per-(id, dim) jitter
    val dim = size(col("embedding"))
    val rotatedEmb = transform(sequence(lit(0), dim - 1), i => {
      val srcVal = element_at(col("embedding"),
        ((i + col("c")) % dim) + 1)
      val h = pmod(hash(col("vec_id"), i, col("c")).cast("long"), lit(1000L))
      // keep FloatType: the mixed float/long arithmetic otherwise
      // promotes the whole array to double and the vector expressions
      // (array<float> typed) reject the table
      (srcVal + (h - 500L).cast("float") / lit(33333.0f) * abs(srcVal))
        .cast("float")
    })
    // label rides along unchanged (copies keep the source class balance)
    // — q88/q95 consume it, and dropping it silently broke their sweep
    // entries until round 13 widened the sweep to the full surface
    write(emb.select(col("*"), copies)
      .withColumn("embedding",
        when(col("c") === 0, col("embedding")).otherwise(rotatedEmb))
      .select((col("vec_id") + col("c") * vecSpan).as("vec_id"),
        col("embedding"), col("label")),
      "embeddings")

    println(s"[datagen] sf1 tree written to $out")
  }
}
