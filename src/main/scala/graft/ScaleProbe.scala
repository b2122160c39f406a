package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Collection}
import graft.Drive.timed

/** Graph-ANN scaling probe: the per-hop collect floor of the graph tier.
  *
  * Builds the kNN graph once over the fixture at `sfDir`, then times
  *  - `solo_secs`: one single-query beam search in the analytic form
  *    (`Ann.graphBeamSearch`, which streams the edge table once per hop),
  *  - `batch_secs`: one BATCHED beam search over `nQueries` evenly spread
  *    stored vectors — the serving design point, where every hop join is
  *    shared by the whole batch,
  *  - `serve_secs`: one single-query search over the bucketed graph store
  *    (`Ann.graphBeamServe`), which reads only the frontier's buckets per
  *    hop.
  *
  * Prints one `{"probe":"graph_beam",...}` JSON line. The bucketed store
  * goes to a fresh temp dir per run, deleted on exit.
  *
  *   sbt "runMain graft.ScaleProbe <sfDir> [nQueries]"
  *
  * `nQueries` (default 100) must lie in 1..n, n the fixture's row count.
  * The graph build and the entry seeds both use the registered queries'
  * [[SparkEntry.KnnCells]] seed cells; `SPARK_GRAFT_CPUS` (default 32)
  * sets the local core count.
  */
object ScaleProbe {
  private val Usage =
    "usage: ScaleProbe <sfDir> [nQueries, 1..rows, default 100]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val sfDir = args(0)
    val nQueries =
      if (args.length > 1) args(1).toIntOption.getOrElse(0) else 100
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // the fixture dir may be read-only, and a fixed path would be shared
    // by every probe on the same fixture
    val gPath =
      java.nio.file.Files.createTempDirectory("graft_probe_graphstore").toString
    try {
      val points = Collection.load(spark, sfDir)
        .select(col("id"), col("embedding"), col("user_id")).cache()
      val n = points.count()
      require(1 <= nQueries && nQueries <= n, s"$Usage (got $nQueries, rows=$n)")
      val cells = SparkEntry.KnnCells
      val cents = Ann.seedCentroids(points, cells)
      val (graph, buildSecs) = timed {
        Ann.graphBuild(points, cents, graphK = 12, maxDegree = 16)
          .localCheckpoint()
      }
      val seeds = Ann.seedCentroids(points, cells).orderBy("cid").collect()
      val ecids = seeds.map(_.getLong(0)).toSeq
      val ecents = seeds.map(_.getSeq[Double](1).toSeq).toSeq
      def search(q: DataFrame): Long =
        Ann.graphBeamSearch(points, graph, q, k = 10, beam = 24, hops = 8,
          entryCids = ecids, entryCents = ecents).count()
      val soloQ = points.filter(col("id") === 0)
        .select(col("id").as("qid"), col("embedding").as("qemb"))
      search(soloQ) // warmup (codegen)
      val (_, soloSecs) = timed(search(soloQ))
      val qids = (0 until nQueries).map(i => i * (n / nQueries))
      val batchQ = points.filter(col("id").isin(qids.map(Long.box): _*))
        .select(col("id").as("qid"), col("embedding").as("qemb"))
      val (rows, batchSecs) = timed(search(batchQ))
      Ann.saveGraphBucketed(graph, gPath, nBuckets = 64)
      val qemb = points.filter(col("id") === 0)
        .select("embedding").head().getSeq[Double](0).toSeq
      def serve(): Long =
        Ann.graphBeamServe(points, gPath, nBuckets = 64, qemb, k = 10,
          beam = 24, hops = 8, entryCids = ecids, entryCents = ecents).count()
      serve() // warmup
      val (_, serveSecs) = timed(serve())
      println(s"""{"probe":"graph_beam","sf":"$sfDir","n":$n,"cells":$cells,""" +
        s""""build_secs":${math.rint(buildSecs * 100) / 100},""" +
        s""""solo_secs":${math.rint(soloSecs * 100) / 100},""" +
        s""""serve_secs":${math.rint(serveSecs * 100) / 100},""" +
        s""""batch_queries":$nQueries,"batch_rows":$rows,""" +
        s""""batch_secs":${math.rint(batchSecs * 100) / 100},""" +
        s""""batch_ms_per_query":${math.rint(batchSecs / nQueries * 1e5) / 100}}""")
    } finally {
      spark.stop()
      Drive.deleteTree(gPath)
    }
  }
}
