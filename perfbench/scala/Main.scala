package graft.perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Hgn, SessionTuning, SparkEntry}
import graft.config.HgnConfig
import graft.graph._
import graft.ml.{Cosine, DummyVectors}
import graft.plans.Lineage
import graft.sources.{GraphCsv, Sinks}

/** The benchmark's JVM side. One invocation runs one workload:
  *
  *   1. set-up, `setups` times (session build plus input generation or
  *      derivation; the first is timed from process start);
  *   2. untraced operations until `seconds` have passed (at least one):
  *      one `Hgn.run(conf)`, or, after a warm-up pass, one pass over
  *      [[Main.CatalogQueries]] that writes each result as `graft.Verify`
  *      does; every operation is checked;
  *   3. with `--trace 1`, one traced pass that calls the same public
  *      functions phase by phase under [[Tracer]] spans.
  *
  * The record (every sample, check and span) is written as JSON to
  * `--out`; `perfbench/run.py` turns it into the benchmark's result line.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --out FILE --setups K`
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, data: String, out: File, setups: Int)

  /** Sizing and the step cap are explained in perfbench/README.md. */
  val PlantedSpec = Planted.Spec(vertices = 1000, blocks = 10, avgDegree = 10,
    mixing = 0.05, features = 4, valuesPerFeature = 8, featureNoise = 0.2,
    degreeExponent = 3.0, maxPropensity = 8.0)
  val PlantedMaxSteps = 8

  /** The graph-family catalog queries that use HGN layers outside the HGN
    * loop: components (g08, g09), the PageRank and label-propagation loops
    * over `Lineage.cut` (g10, g15) and betweenness at k=3 with a hub cap
    * (g17).
    */
  val CatalogQueries: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("g(08|09|10|15|17)_.*")).toSeq.sorted

  /** The HGN layer a catalog query exercises (for the per-layer view);
    * the others count as `query`.
    */
  val CatalogLayer: Map[String, String] = Map(
    "g08_components" -> "graph.components",
    "g09_community_filter" -> "graph.components",
    "g17_betweenness_k3" -> "graph.betweenness")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", new File(kv("work")), kv("data"), new File(kv("out")),
      kv("setups").toInt)
    a.work.mkdirs()
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    a.workload match {
      case "hgn_planted" | "hgn_copurchase" => new HgnBench(a, record).run()
      case "catalog_graph" => new CatalogBench(a, record).run()
      case other => sys.error(s"unknown workload: $other")
    }
    sys.exit(0)
  }

  val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** Drops every persisted block (checkpoints of the previous operation)
    * so each operation starts from the same empty block store.
    */
  def releaseBlocks(spark: SparkSession): Unit = {
    graft.queries.SessionCache.evict(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs `setups` set-ups; the first counts from JVM start. Returns the
    * live session of the last one.
    */
  def timedSetups(a: Args, record: mutable.Map[String, Any])(
      build: () => SparkSession)(prepare: SparkSession => Unit): SparkSession = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val samples = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to a.setups) {
      val t0 = now()
      val startedAgo = if (i == 1) (System.currentTimeMillis() - jvmStart) / 1e3 else 0.0
      spark = build()
      spark.sparkContext.setLogLevel("WARN")
      prepare(spark)
      samples += startedAgo + secs(t0)
      if (i < a.setups) spark.stop()
    }
    record("setup_samples_s") = samples.toSeq
    spark
  }

  /** Runs `op` until `seconds` have passed since the first started, and
    * at least once.
    */
  def repeat[T](seconds: Double)(op: Int => T): Seq[T] = {
    val t0 = now()
    val out = mutable.ArrayBuffer[T]()
    while (out.isEmpty || secs(t0) < seconds) out += op(out.size + 1)
    out.toSeq
  }

  def writeRecord(a: Args, record: mutable.Map[String, Any]): Unit = {
    record("peak_rss_mb") = peakRssMb()
    Files.write(a.out.toPath, Json.writeValueAsBytes(record))
  }
}

/** `hgn_planted` and `hgn_copurchase`: the paper's workload, one
  * `Hgn.run(conf)` per operation, from a YAML conf as `Hgn -c` reads it.
  */
final class HgnBench(a: Main.Args, record: mutable.Map[String, Any]) {
  import Main._

  private val input = new File(a.work, "input")
  private val planted = a.workload == "hgn_planted"
  private var truth: Array[Int] = Array.empty

  private def confText(nodes: String, edges: String, features: Seq[String],
      out: String): String = {
    val list = features.mkString("[", ", ", "]")
    // hgn_planted: the reference thresholds (HgnParams defaults);
    // hgn_copurchase: the graph-family catalog's thresholds.
    val opts =
      if (planted) ""
      else """  feature_min_avg: 0.3
             |  max_edge_weight: 0.2
             |  betweenness_thres: 16
             |""".stripMargin
    s"""input:
       |  nodes_path: $nodes
       |  edges_path: $edges
       |  feature_names: $list
       |run_options:
       |  features_to_check: $list
       |  max_steps: ${if (planted) PlantedMaxSteps else 30}
       |$opts
       |output:
       |  dir: $out
       |  save_communities_to_csvs: true
       |""".stripMargin
  }

  /** Writes the input graph and the conf; returns the conf's path. */
  private def prepare(spark: SparkSession): File = {
    Main.deleteTree(input)
    val features =
      if (planted) {
        val g = Planted.generate(PlantedSpec, a.seed)
        Planted.writeCsv(g, PlantedSpec, input)
        truth = g.block
        Planted.featureNames(PlantedSpec)
      } else {
        // The co-purchase graph as the graph-family catalog derives it,
        // with the part features the catalog's similarity compares.
        val part = graft.Tables.load(spark, a.data, "part")
        part.select(col("p_partkey").as("id"), col("p_brand").as("brand"),
            col("p_type").as("type"), col("p_size").cast("string").as("size"))
          .coalesce(1).write.option("header", "true").csv(s"$input/nodes.csv")
        graft.queries.GraphQueries.derivedEdges(spark, a.data)
          .coalesce(1).write.option("header", "true").csv(s"$input/edges.csv")
        Seq("brand", "type", "size")
      }
    val conf = new File(a.work, "hgn.yml")
    Files.write(conf.toPath, confText(s"$input/nodes.csv", s"$input/edges.csv",
      features, s"${a.work}/out").getBytes(UTF_8))
    conf
  }

  final case class Outcome(wall: Double, deleted: Seq[Long], hash: String,
      failures: Seq[String])

  def run(): Unit = {
    var confFile: File = null
    implicit val spark: SparkSession = timedSetups(a, record)(
      () => Hgn.session("perfbench")) { s => confFile = prepare(s) }
    val conf = HgnConfig.fromFile(confFile.getPath)
    record("conf") = new String(Files.readAllBytes(confFile.toPath), UTF_8)
    record("input") = Map(
      "vertices" -> GraphCsv.loadNodes(spark, conf.nodesPath, conf.featureNames).count(),
      "edges" -> GraphCsv.loadEdges(spark, conf.edgesPath).count())

    val outcomes = repeat(a.seconds) { i =>
      releaseBlocks(spark)
      val log = new ByteArrayOutputStream()
      val t0 = now()
      val g = Console.withOut(new PrintStream(log, true, "UTF-8")) { Hgn.run(conf) }
      val wall = secs(t0)
      val text = log.toString("UTF-8")
      System.err.print(text)
      val deleted = "\\[hgn\\] step \\d+: deleted (\\d+) edges".r
        .findAllMatchIn(text).map(_.group(1).toLong).toSeq
      val (hash, failures, quality) = check(conf, g, deleted, s"${conf.outputDir}/communities",
        quality = i == 1)
      if (i == 1) record("quality") = quality
      System.err.println(f"[perfbench] op $i: $wall%.2f s, deleted $deleted, $hash")
      Outcome(wall, deleted, hash, failures)
    }
    record("ops") = outcomes.map(o => Map("wall_s" -> o.wall, "deleted" -> o.deleted,
      "community_hash" -> o.hash, "failures" -> o.failures))

    if (a.trace) {
      releaseBlocks(spark)
      val tracer = new Tracer(spark)
      val t0 = now()
      val (g, deleted, rows, verts) = traced(conf, tracer)
      val wall = secs(t0)
      val spans = tracer.finish()
      val (hash, failures, _) = check(conf, g, deleted,
        s"${a.work}/traced/communities", quality = false)
      val agree = outcomes.forall(o => o.deleted == deleted && o.hash == hash)
      record("traced") = Map("wall_s" -> wall, "deleted" -> deleted,
        "community_hash" -> hash, "failures" -> failures, "agrees" -> agree,
        "rmetrics_rows_total" -> rows, "vertices_dropped_total" -> verts,
        "storage_peak_mb" -> tracer.storagePeakBytes / 1048576.0,
        "spans" -> SpanReport(spans))
    }
    writeRecord(a, record)
    spark.stop()
  }

  /** The checks every operation passes; returns the community hash, the
    * failed checks, and (when asked) NMI and modularity.
    */
  private def check(conf: HgnConfig, g: PropertyGraph, deleted: Seq[Long],
      communitiesDir: String, quality: Boolean)(
      implicit spark: SparkSession): (String, Seq[String], Map[String, Double]) = {
    val failures = mutable.ArrayBuffer[String]()
    val vertices = g.vertices.select(col("id")).collect().map(_.getLong(0))
    val edges = g.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = spark.read.option("header", "true").csv(communitiesDir)
      .select(col("id").cast("long"), col("component").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val communities = rows.toMap

    val kept = vertices.toSet
    if (edges.exists { case (s, d) => !kept(s) || !kept(d) })
      failures += "an edge points at a dropped vertex"
    if (deleted.isEmpty || (deleted.last != 0 && deleted.size != conf.params.maxSteps))
      failures += s"loop stopped at neither zero deletions nor max_steps: $deleted"
    if (rows.length != communities.size || components(vertices, edges) != communities)
      failures += "communities are not the connected components of the final graph"

    val lines = communities.toSeq.sorted.map { case (v, c) => s"$v,$c\n" }.mkString
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.getBytes(UTF_8)).take(8).map(b => f"$b%02x").mkString

    val q =
      if (!quality) Map.empty[String, Double]
      else {
        val nodes = GraphCsv.loadNodes(spark, conf.nodesPath, conf.featureNames)
          .select(col("id"))
        val labels = spark.createDataFrame(communities.toSeq).toDF("id", "c")
        val all = nodes.join(labels, Seq("id"), "left")
          .select(col("id"), coalesce(col("c"), col("id")).as("label"))
        val inputEdges = GraphCsv.loadEdges(spark, conf.edgesPath)
          .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val qMicro = Modularity.score(all, inputEdges).select("q_micro").head().getLong(0)
        Map("community_modularity" -> qMicro / 1e6,
          "communities" -> communities.values.toSet.size.toDouble,
          "vertices_covered" -> communities.size.toDouble) ++
          (if (planted) Map("community_nmi" -> Quality.nmi(communities, truth)) else Map.empty)
      }
    (hash, failures.toSeq, q)
  }

  /** Connected components by union-find, labelled by their smallest id. */
  private def components(vertices: Array[Long], edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    vertices.foreach(find)
    edges.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d))
      if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** `Hgn.run` phase by phase: the same public calls in the same order
    * (`Hgn.run` → `HgnPipeline.run` → `HgnPipeline.iterate`), each under
    * a span. Returns the final graph, the deleted sequence, the r-metric
    * rows summed over steps and the vertices dropped.
    */
  private def traced(conf: HgnConfig, t: Tracer)(
      implicit spark: SparkSession): (PropertyGraph, Seq[Long], Long, Long) = t.span("hgn", "hgn") {
    val p = conf.params
    val g = t.span("sources.load", "sources.load") {
      PropertyGraph(
        Lineage.cut(GraphCsv.loadNodes(spark, conf.nodesPath, conf.featureNames,
          conf.nodesDelimiter, conf.nodesHasHeader, conf.nodesEncoding)),
        Lineage.cut(GraphCsv.loadEdges(spark, conf.edgesPath, conf.edgesHaveWeights,
          conf.edgesDelimiter, conf.edgesHasHeader)))
    }
    val sims = t.span("ml.similarity", "ml.similarity") {
      val vectors = DummyVectors.create(g.vertices, conf.featuresToCheck)
      Lineage.cut(Cosine.edgeSimilarities(g.edges, vectors).select("src", "dst", "similarity"))
    }
    val btw0 = t.span("graph.betweenness", "graph.betweenness") {
      Lineage.cut(Betweenness.run(g, p.maxSpLength, p.maxMidDegree))
    }
    // HgnPipeline.run's own cuts of its inputs.
    val (btw, g0) = t.span("plans.cut", "plans.cut") {
      (Lineage.cut(btw0), PropertyGraph(Lineage.cut(g.vertices), Lineage.cut(g.edges)))
    }
    val v0 = t.span("trace.count", "trace") { g0.vertices.count() }
    var cur = g0
    val deleted = mutable.ArrayBuffer[Long]()
    var rows = 0L
    var converged = false
    while (!converged && deleted.size < p.maxSteps) {
      t.span(s"hgn.step.${deleted.size + 1}", "hgn.step") {
        val edgesR = t.span("graph.rmetrics", "graph.rmetrics") {
          Lineage.cut(RMetrics.run(cur, p.rLvl1Thres, p.rLvl2Thres, p.maxMidDegree, p.splitTwoHop))
        }
        rows += t.span("trace.count", "trace") { edgesR.count() }
        val weights = t.span("graph.edge_weights", "graph.edge_weights") {
          Lineage.cut(EdgeWeights.run(edgesR, sims, p.featureMinAvg))
        }
        val (toDelete, n) = t.span("graph.edges_to_delete", "graph.edges_to_delete") {
          val d = Lineage.cut(HgnPipeline.edgesToDelete(
            weights, btw, p.maxEdgeWeight, p.betweennessThres))
          (d, d.count())
        }
        deleted += n
        if (n == 0) converged = true
        else cur = t.span("graph.delete", "graph.delete") {
          val next = HgnPipeline.deleteEdges(cur, toDelete, edgesR)
          PropertyGraph(Lineage.cut(next.vertices), Lineage.cut(next.edges.distinct()))
        }
      }
    }
    val dropped = v0 - t.span("trace.count", "trace") { cur.vertices.count() }
    val components = t.span("graph.components", "graph.components") {
      Lineage.cut(Communities.connectedComponents(cur))
    }
    t.span("sources.sink", "sources.sink") {
      Sinks.saveCommunitiesCsv(cur, s"${a.work}/traced/communities", Some(components))
    }
    (cur, deleted.toSeq, rows, dropped)
  }
}

/** `catalog_graph`: one execution of each of [[Main.CatalogQueries]] per
  * operation, with the session caches emptied first, in a session built
  * the way `graft.Bench` builds it; each result is written the way
  * `graft.Verify` writes it (with the oracle SQL beside them) for the
  * DuckDB oracle check in `perfbench/oracle.py`.
  */
final class CatalogBench(a: Main.Args, record: mutable.Map[String, Any]) {
  import Main._

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SessionTuning.autoConfs(a.data, cpus.toInt)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.session.timeZone", "UTC")) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
  }

  private val outDir = s"${a.work}/verify"

  private def execute(spark: SparkSession, name: String): Unit =
    SparkEntry.queries(name)(spark, a.data).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")

  def run(): Unit = {
    val spark = timedSetups(a, record)(() => session()) { s =>
      s.sparkContext.setCheckpointDir(Files.createTempDirectory("perfbench-ckpt").toString)
    }
    record("queries") = CatalogQueries
    def pass(i: Int): Map[String, Any] = {
      releaseBlocks(spark)
      val times = mutable.LinkedHashMap[String, Double]()
      val errors = mutable.LinkedHashMap[String, String]()
      CatalogQueries.foreach { q =>
        val t0 = now()
        try execute(spark, q)
        catch { case e: Exception => errors(q) = String.valueOf(e.getMessage).take(300) }
        times(q) = secs(t0)
      }
      System.err.println(f"[perfbench] pass $i: ${times.values.sum}%.2f s, errors ${errors.keys}")
      Map("wall_s" -> times.values.sum, "query_s" -> times, "errors" -> errors,
        "warmup" -> (i == 0))
    }
    // A first pass warms the JIT up, as graft.Bench's warm-up run does.
    record("ops") = pass(0) +: repeat(a.seconds)(pass)

    if (a.trace) {
      releaseBlocks(spark)
      val tracer = new Tracer(spark)
      val t0 = now()
      tracer.span("catalog", "catalog") {
        CatalogQueries.foreach { q =>
          tracer.span(s"query.$q", CatalogLayer.getOrElse(q, "query"))(execute(spark, q))
        }
      }
      val wall = secs(t0)
      record("traced") = Map("wall_s" -> wall,
        "storage_peak_mb" -> tracer.storagePeakBytes / 1048576.0,
        "spans" -> SpanReport(tracer.finish()))
    }
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), Json.writeValueAsBytes(
      SparkEntry.oracleSql.filter { case (q, _) => CatalogQueries.contains(q) }))
    writeRecord(a, record)
    spark.stop()
  }
}

/** Spans as JSON-ready maps, with self time and self counters. */
object SpanReport {
  def apply(spans: Seq[Tracer.Span]): Seq[Map[String, Any]] = {
    val self = Tracer.selfSeconds(spans)
    val gc = Tracer.selfGcSeconds(spans)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> self(s.id), "gc_s" -> gc(s.id), "jobs" -> s.jobs,
        "stages" -> s.stages, "tasks" -> s.tasks, "task_s" -> s.taskNanos / 1e9,
        "cpu_s" -> s.cpuNanos / 1e9, "shuffle_read_mb" -> s.shuffleRead / 1048576.0,
        "shuffle_write_mb" -> s.shuffleWrite / 1048576.0,
        "spill_mb" -> s.spill / 1048576.0, "cuts" -> s.cuts)
    }
  }
}

/** Normalized mutual information between two labelings of the same ids. */
object Quality {
  def nmi(found: Map[Long, Long], truth: Array[Int]): Double = {
    val pairs = found.toSeq.map { case (v, c) => (c, truth(v.toInt)) }
    val n = pairs.size.toDouble
    def entropy(counts: Iterable[Int]) =
      -counts.map { c => val p = c / n; p * math.log(p) }.sum
    val hA = entropy(pairs.groupMapReduce(_._1)(_ => 1)(_ + _).values)
    val hB = entropy(pairs.groupMapReduce(_._2)(_ => 1)(_ + _).values)
    val hAB = entropy(pairs.groupMapReduce(identity)(_ => 1)(_ + _).values)
    val mi = hA + hB - hAB
    if (hA + hB == 0) 1.0 else 2 * mi / (hA + hB)
  }
}
