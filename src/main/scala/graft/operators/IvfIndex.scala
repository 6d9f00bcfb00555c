package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{ArtifactStore, Tables}

/** IVF coarse-quantizer index: the BUILD half of the IVF ANN operator,
  * deliberately outside the query path (an index is built once per corpus
  * version; queries only assign + scan — running a k-means fit inside
  * every query charges the index build to every search).
  *
  * Training follows the standard IVF recipe (faiss-style): fit on a
  * bounded sample, not the corpus — quantizer quality saturates at a few
  * hundred points per centroid, so the sample is capped and the fit is
  * driver-local Lloyd iterations over ≤ [[SampleSize]] vectors (a few MB;
  * never data-sized). The sample is deterministic: top-[[SampleSize]] by
  * `xxhash64(vec_id)`, a seedless pseudo-random order that is stable
  * across runs, partitionings, and cluster sizes, and is computed as a
  * distributed top-k (heap per partition, no full sort, no shuffle of the
  * corpus).
  *
  * The trained quantizer lives in the [[graft.core.ArtifactStore]]
  * (see [[centroids]] for its file format).
  */
object IvfIndex {

  /** Max training vectors: 256 per centroid at the default nlist=16. */
  val SampleSize = 4096
  val LloydIters = 10

  /** The trained quantizer for (corpus dir, nlist), held in the
    * [[graft.core.ArtifactStore]] and versioned on the embeddings table.
    * With `spark.graft.signatures.persist=true` it is also a durable
    * artifact of kind `ivf`, the file `<version>/centroids_<k>.txt`: one
    * line per centroid of comma-separated `Double.toString` components
    * (exact round-trip). Disk failures degrade to the in-memory entry. */
  def centroids(spark: SparkSession, dir: String, k: Int): Array[Array[Double]] =
    ArtifactStore.value(spark, dir, Seq("embeddings.parquet"), s"ivf_centroids_$k") { _ =>
      lazy val built = centroidsOf(Tables.embeddings(spark, dir), k)
      def fs(path: String) = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!ArtifactStore.persistEnabled(spark)) built
      else scala.util.Try(ArtifactStore.durable(spark, dir, Seq("embeddings.parquet"),
        ArtifactStore.Persisted("ivf"), s"centroids_$k.txt") { path =>
        val out = fs(path).create(new HPath(path), true)
        try out.write(built.map(_.mkString(",")).mkString("\n").getBytes("UTF-8")) finally out.close()
      } { path =>
        val in = fs(path).open(new HPath(path))
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val rows = text.split("\n").filter(_.nonEmpty).map(_.split(",").map(java.lang.Double.parseDouble))
        require(rows.nonEmpty, s"empty quantizer file $path")
        rows
      }).getOrElse(built)
    }

  /** Centroids for ANY (vec_id, embedding) frame — the uncached entry the
    * SQL table-function surface uses (no corpus dir to version-key on).
    * The training sample is capped at [[SampleSize]], so the collect is
    * bounded at any corpus scale. */
  def centroidsOf(emb: org.apache.spark.sql.DataFrame, k: Int): Array[Array[Double]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(SampleSize)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    lloyd(sample, k)
  }

  /** Deterministic k-means: k-means++-style farthest-point seeding from a
    * fixed start, then [[LloydIters]] Lloyd rounds. Pure JVM arithmetic
    * over the sample — O(sample × k × dim × iters), microseconds-to-
    * milliseconds at any corpus scale because the sample is capped. */
  private[operators] def lloyd(points: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot build an IVF index over an empty corpus")
    val dim = points.head.length
    val kk = math.min(k, points.length)

    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    // farthest-point init (deterministic k-means++ variant): start from
    // point 0, repeatedly take the point farthest from its nearest chosen
    // centroid — spreads seeds without randomness
    val centers = new Array[Array[Double]](kk)
    centers(0) = points(0).clone()
    val nearest = points.map(p => d2(p, centers(0)))
    var c = 1
    while (c < kk) {
      var far = 0
      var i = 1
      while (i < points.length) { if (nearest(i) > nearest(far)) far = i; i += 1 }
      centers(c) = points(far).clone()
      i = 0
      while (i < points.length) {
        val d = d2(points(i), centers(c))
        if (d < nearest(i)) nearest(i) = d
        i += 1
      }
      c += 1
    }

    val assign = new Array[Int](points.length)
    var iter = 0
    while (iter < LloydIters) {
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kk) {
          val d = d2(points(i), centers(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      i = 0
      while (i < points.length) {
        val a = assign(i)
        counts(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        // empty cluster → keep its previous center (deterministic, rare
        // with farthest-point seeding)
        if (counts(j) > 0) {
          var t = 0
          while (t < dim) { sums(j)(t) /= counts(j); t += 1 }
          centers(j) = sums(j)
        }
        j += 1
      }
      iter += 1
    }
    centers
  }
}
