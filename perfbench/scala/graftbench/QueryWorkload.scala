package graftbench

import java.nio.file.Path

import scala.collection.mutable

import graft.SparkEntry

/** A workload of registered queries (`SparkEntry.queries`) over the seeded
  * inputs. Each pass runs every op once, in a seeded order. A read op builds
  * the query, runs the fingerprint action and compares it with the
  * fingerprint of the checked result; `writers` name the ops that write
  * files. */
final class QueryWorkload(ctx: Ctx, ops: Seq[String], writers: Set[String],
                          probeSet: Seq[(String, () => Double)],
                          baseFacts: Map[String, Any]) extends Workload {
  private var dir: Path = _
  private val expected = mutable.Map.empty[String, String]
  private val checked = mutable.LinkedHashMap.empty[String, (String, String)]
  private val warmupSecs = mutable.LinkedHashMap.empty[String, Double]
  private lazy val fns = SparkEntry.queries
  private lazy val oracle = SparkEntry.oracleSql

  require(ops.forall(SparkEntry.queries.contains), "unknown query in workload")

  def input: Path = dir
  def spark: org.apache.spark.sql.SparkSession = ctx.spark
  override def inputDir: Option[Path] = Option(dir)
  override def checks: Map[String, (String, String)] = checked.toMap

  /** The inputs are generated before the JVM starts (`inputs.py`). */
  def prepare(rep: Int): Unit = dir = ctx.work.resolve(s"inputs-$rep")

  /** Runs each op once and writes its result for the oracle compare; the
    * fingerprint of the written result is what every timed run must match.
    * A query that throws here has no expected fingerprint, so each of its
    * timed runs fails with this cause. */
  def warmup(): Unit = ops.foreach { name =>
    val out = ctx.work.resolve("check").resolve(name).toString
    val t0 = System.nanoTime()
    try {
      fns(name)(spark, dir.toString).write.parquet(out)
      expected(name) = Fingerprint.of(spark.read.parquet(out))
      checked(name) = (out, oracle.getOrElse(name, ""))
    } catch {
      case t: Throwable => expected(name) = "check pass failed: " + Cause.of(t)
    }
    spark.catalog.clearCache()
    warmupSecs(name) = (System.nanoTime() - t0) / 1e9
  }

  def facts: Map[String, Any] = baseFacts + ("warmup_s_by_op" -> warmupSecs.toMap)

  /** Each op runs once a pass, so three passes give every op a median that
    * one stalled run of it does not move. */
  override def minPasses: Int = 3

  def pass(p: Int): Seq[Op] = {
    val rng = new java.util.Random(ctx.seed * 31 + p)
    val order = ops.toArray
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.toSeq.map { name =>
      Op(name, if (writers(name)) "write" else "read", () => runOne(name))
    }
  }

  private def runOne(name: String): Unit = {
    val df = ctx.spans("queries.build")(fns(name)(spark, dir.toString))
    val fp = ctx.spans("spark.action")(Fingerprint.of(df))
    val want = expected(name)
    if (fp != want) throw new IllegalStateException(
      s"result fingerprint $fp != checked $want")
  }

  override def probes(): Map[String, Double] =
    probeSet.map { case (metric, f) =>
      val v = f()
      spark.catalog.clearCache()
      metric -> v
    }.toMap
}

/** The query workload and its layer probes. */
object QueryWorkloads {
  /** The paper's pipeline queries. The state-grain crosstabs (`e3b`,
    * `e3d`) are left out: they run the same `crosstabFrom` as `e3`/`e3c`
    * at another grouping column, and the run-time budget of the benchmark
    * does not cover a pass with them. */
  val tankOps = Seq(
    "e1_inventory", "e3_inventory_crosstab", "e3c_county_pct",
    "a8_merge_clusters", "j8_spatial_argmax", "e2_allocation_rounds",
    "tracker_build", "p9_verifier_update", "g1_chip_pixels",
    "s7_voc_roundtrip", "s13_shapefile_sink")
  // `s7_voc_roundtrip` renders and parses VOC XML in memory and writes no
  // file, so it counts as a read
  val tankWriters = Set("s13_shapefile_sink")

  private def secs(ctx: Ctx, span: String)(body: => Unit): Double = ctx.timed(span)(body)._2

  def tank(ctx: Ctx): QueryWorkload = {
    import ctx.spark
    lazy val w: QueryWorkload = new QueryWorkload(ctx, tankOps, tankWriters, Seq(
      "pipeline.inventory_s" -> (() => secs(ctx, "pipeline.inventory") {
        graft.pipeline.TankInventory.inventory(spark, w.input.toString).count(); ()
      }),
      "pipeline.crosstab_s" -> (() => {
        val inv = graft.pipeline.TankInventory.inventory(spark, w.input.toString).localCheckpoint()
        secs(ctx, "pipeline.crosstab") {
          graft.pipeline.TankInventory.crosstabFrom(inv, "county_key", percent = false).collect(); ()
        }
      }),
      "operators.box_merge_s" -> (() => secs(ctx, "operators.box_merge") {
        graft.plans.MergeBoxesApi.mergeBoxes(
          graft.pipeline.TankInventory.boxes(spark, w.input.toString)).count(); ()
      }),
      "operators.allocation_s" -> (() => {
        val o = graft.io.Tables.orders(spark, w.input.toString).select("o_orderkey", "o_orderdate")
        secs(ctx, "operators.allocation") {
          graft.operators.Allocation.allocateRounds(spark, o, Seq("o_orderdate", "o_orderkey"),
            100, Seq("annotator_0", "annotator_1", "annotator_2", "annotator_3"), rounds = 2).count(); ()
        }
      })),
      Map("ops" -> tankOps, "writers" -> tankWriters.toSeq.sorted,
        "input" -> "lineitem 60000 rows = 60000 boxes on 1000 tiles; orders 15000; nation 25 counties",
        "caches" -> "no engine-side result cache; each op recomputes the inventory"))
    w
  }
}
