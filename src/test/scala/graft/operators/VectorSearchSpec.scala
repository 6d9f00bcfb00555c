package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The vector-search kernel's contract on a hand-built store: probe set,
  * self-exclusion, tie-break, k, the integer L2 fold, probe → list
  * ranking — plus a source pin that keeps the family on the kernel. */
class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  // 12 vectors; 10 and 11 are identical, so every probe scores them equal
  private val vecs: Seq[(Long, Array[Float])] = (0L until 10L).map { i =>
    i -> Array(1f + i, (i % 3).toFloat, (7 - i).toFloat, (i * i % 5).toFloat)
  } ++ Seq(10L -> Array(2f, -1f, 3f, 0.5f), 11L -> Array(2f, -1f, 3f, 0.5f))

  private def store = vecs.toDF("vec_id", "embedding")

  private def cosineRanking(k: Option[Int]) =
    VectorSearch.topK(
      VectorSearch.exactScan(store, VectorSearch.probes(store),
        Seq(Similarity.cosine(col("probe_vec"), col("embedding")).as("cos_raw"))),
      col("cos_raw").desc, k)
      .select("probe_id", "neighbor_id", "cos_raw", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq

  test("probes are vec_id < NumProbes, and a probe is never its own neighbour") {
    val rows = cosineRanking(None)
    assert(rows.map(_._1).distinct.sorted == (0L until VectorSearch.NumProbes))
    assert(rows.forall { case (p, n, _, _) => p != n })
  }

  test("an exact score tie ranks the lower neighbour id first") {
    cosineRanking(None).groupBy(_._1).foreach { case (p, rs) =>
      val rank = rs.map(r => r._2 -> r._4).toMap
      assert(rs.find(_._2 == 10L).get._3 == rs.find(_._2 == 11L).get._3)
      assert(rank(11L) == rank(10L) + 1, s"probe $p: $rank")
    }
  }

  test("k rows per probe, or the whole store when k is unbounded") {
    val topk = cosineRanking(Some(VectorSearch.TopK)).groupBy(_._1)
    val full = cosineRanking(None).groupBy(_._1)
    assert(topk.size == VectorSearch.NumProbes && full.size == VectorSearch.NumProbes)
    topk.values.foreach { rs =>
      assert(rs.map(_._4).sorted == (1 to VectorSearch.TopK))
    }
    full.foreach { case (p, rs) =>
      assert(rs.map(_._2).toSet == vecs.map(_._1).toSet - p)
      assert(rs.map(_._4).sorted == (1 to vecs.length - 1))
      // the top-k is the head of the full ranking
      assert(topk(p).map(_._2).toSet == rs.filter(_._4 <= VectorSearch.TopK).map(_._2).toSet)
    }
  }

  test("int-L2 fold and its slice prefixes equal a Scala reference") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(20)((
      Array.fill(16)(rnd.nextInt(2000001).toLong - 1000000L),
      Array.fill(16)(rnd.nextInt(2000001).toLong - 1000000L)))
    def ref(a: Array[Long], b: Array[Long], d: Int): Long =
      a.take(d).zip(b.take(d)).map { case (x, y) => (x - y) * (x - y) }.sum
    val dims = Seq(1, 4, 8, 16)
    val got = pairs.toDF("a", "b")
      .select(VectorSearch.l2(col("a"), col("b")) +:
        dims.map(d => VectorSearch.l2Prefix(col("a"), col("b"), d)): _*)
      .collect().map(r => (0 to dims.length).map(r.getLong))
    val want = pairs.map { case (a, b) => ref(a, b, 16) +: dims.map(ref(a, b, _)) }
    assert(got.toSeq == want)
  }

  test("probe → list ranking: nearest lists first, 1-based ranks, ties to the lower list") {
    val centers = Array(Array(0.0, 0, 0, 0), Array(2.0, -1, 3, 0.5), Array(2.0, -1, 3, 0.5),
      Array(5.0, 1, 3, 0))
    val lists = VectorSearch.probeLists(store, centers, 3)
    assert(lists.map(_._1).distinct.sorted == (0L until VectorSearch.NumProbes))
    lists.groupBy(_._1).foreach { case (p, ls) =>
      val v = vecs.find(_._1 == p).get._2
      val want = centers.indices.sortBy(i =>
        centers(i).zip(v).map { case (c, x) => (x - c) * (x - c) }.sum).take(3)
      assert(ls.map(_._2) == want, s"probe $p")
      assert(ls.map(_._3) == Seq(1, 2, 3))
    }
  }

  test("no probe-keyed row_number window or probe-set filter outside the kernel") {
    val Window = """partitionBy\("(probe_id|anchor_id)"""".r
    val ProbeFilter = """col\("vec_id"\)\s*<\s*(\w+\.)?NumProbes""".r
    val offenders = Seq("operators", "layout").flatMap { pkg =>
      Files.list(Paths.get("src/main/scala/graft", pkg)).iterator().asScala.toSeq
        .filter(f => f.toString.endsWith(".scala") &&
          f.getFileName.toString != "VectorSearch.scala")
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (l, i) if Window.findFirstIn(l).nonEmpty || ProbeFilter.findFirstIn(l).nonEmpty =>
              s"$pkg/${f.getFileName}:${i + 1}: ${l.trim}"
          }
        }
    }
    assert(offenders.isEmpty,
      s"probe sets and rank tails belong in VectorSearch:\n${offenders.mkString("\n")}")
  }
}
