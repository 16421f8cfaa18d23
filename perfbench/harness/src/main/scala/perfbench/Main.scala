package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.AdtContext

/** One timed operation as the benchmark saw it. `out` is what the
  * library returned, kept for the output checks made after the run. */
final case class Op(pass: Int, kind: String, name: String, seconds: Double,
    ok: Boolean, err: String, out: String, traced: Boolean)

/** Everything a workload needs while it runs. */
final class Ctx(val plan: JsonNode, val trace: Trace) {
  val cores: Int = plan.get("cores").asInt
  val inputs: String = plan.get("inputs").asText
  val data: String = plan.get("data").asText
  val out: String = plan.get("out").asText
  var adt: AdtContext = _
  def spark: SparkSession = adt.spark
  val ops = ArrayBuffer.empty[Op]
  var pass = 0
  // set during a traced run's timed passes: each op is traced in the
  // pass its plan entry names (0 or 1, counted from the first timed
  // pass), and untraced in the other
  var alternate = false
  var firstTimedPass = 0
  // a workload that sweeps between ops also forces a GC, as graft.Bench does
  var gcAfterOp = false

  /** Run one timed op: its latency, success and output are recorded,
    * then the session is swept of caches the op left behind. The sweep
    * is outside the timed interval. */
  def op(kind: String, name: String, tracePass: Int)(body: => String): Unit = {
    if (alternate) trace.recording = tracePass == pass - firstTimedPass
    val before = if (trace.recording) Leaks.snapshot(spark) else null
    val t0 = System.nanoTime()
    val (ok, err, out) =
      try trace.span("op", Map("op_kind" -> kind, "op_name" -> name)) {
        (true, "", body)
      } catch { case NonFatal(e) => (false, s"${e.getClass.getName}: ${e.getMessage}", "") }
    val secs = (System.nanoTime() - t0) / 1e9
    ops += Op(pass, kind, name, secs, ok, err, out, trace.recording)
    if (before != null) {
      trace.drain()
      trace.point("leaks", Map("cache_leaked" -> Leaks.count(spark, before)))
    }
    sweep()
  }

  def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    if (gcAfterOp) System.gc()
  }

  def register(ddl: String): Unit = trace.span("ddl.register") {
    graft.sources.Ddl.register(spark, graft.sources.Ddl.parse(ddl))
  }

  def passes: Seq[JsonNode] = plan.get("passes").elements.asScala.toSeq
}

/** A workload: set-up on a fresh session, an untimed warm pass, timed
  * passes over seeded ops, and (traced runs only) extra standalone calls. */
trait Workload {
  /** Once per run, before the set-ups: write inputs that only the
    * library can make into the inputs directory every set-up copies. */
  def prepare(c: Ctx): Unit = ()
  def setup(c: Ctx): Unit
  def warm(c: Ctx): Unit
  def pass(c: Ctx, ops: JsonNode): Unit
  /** Forget what the untimed passes counted, before the timed ones. */
  def reset(): Unit = ()
  def kernels(c: Ctx): Unit = ()
  def extra(c: Ctx): Map[String, Any] = Map.empty
}

/** Counts what an op leaves behind: persisted RDDs, cached plans and
  * temp views that are not registered external tables. */
object Leaks {
  final case class Snap(rdds: Set[Int], plans: Int, views: Set[String])

  private def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  private def views(spark: SparkSession): Set[String] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTempViewNames().toSet
      .filterNot(v => graft.sources.Ddl.lookup(spark, v).isDefined)

  def snapshot(spark: SparkSession): Snap =
    Snap(spark.sparkContext.getPersistentRDDs.keySet.toSet,
      cachedPlans(spark), views(spark))

  def count(spark: SparkSession, before: Snap): Int = {
    val after = snapshot(spark)
    (after.rdds -- before.rdds).size +
      math.max(0, after.plans - before.plans) +
      (after.views -- before.views).size
  }
}

/** File-tree helpers for the benchmark's own directories. */
object Dirs {
  def wipe(dir: File): Unit = {
    if (dir.exists()) {
      val p = dir.toPath
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
    }
    dir.mkdirs()
  }

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).forEach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Relative path -> size of every regular file under `dir`. */
  def sizes(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else Files.walk(dir.toPath).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => dir.toPath.relativize(p).toString -> Files.size(p)).toMap
}

/** Entry point: `perfbench.Main <plan.json> <result.json>`. */
object Main {

  def main(args: Array[String]): Unit = {
    val mainUs = System.currentTimeMillis() * 1000.0
    val mapper = new ObjectMapper()
    if (args(0) == "--oracle-sql") {
      // `--oracle-sql <out.json> q1 q2 …`: the DuckDB oracle of each query
      val m = new java.util.TreeMap[String, String]()
      args.drop(2).foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(m.put(q, _)))
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), m)
      return
    }
    val plan = mapper.readTree(new File(args(0)))
    val traced = plan.get("trace").asInt == 1
    val trace = new Trace(traced)
    val c = new Ctx(plan, trace)
    val w: Workload = plan.get("workload").asText match {
      case "pipeline_heavy" => PipelineHeavy
      case "interactive_sql" => InteractiveSql
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val launchS = (mainUs / 1000.0 - plan.get("launch_epoch_ms").asDouble) / 1000.0

    val tp = System.nanoTime()
    c.adt = AdtContext.build()
    c.spark.sparkContext.setLogLevel("ERROR")
    w.prepare(c)
    val prepareS = (System.nanoTime() - tp) / 1e9

    // set-up, several times; the last session is the one that is timed
    val reps = plan.get("setup_reps").asInt
    val repS = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      c.spark.stop()
      Dirs.wipe(new File(c.data))
      Dirs.wipe(new File(c.out))
      Dirs.copyTree(new File(c.inputs), new File(c.data))
      c.adt = AdtContext.build()
      c.spark.sparkContext.setLogLevel("ERROR")
      trace.install(c.spark)
      trace.recording = traced && i == reps
      trace.span("setup")(w.setup(c))
      trace.recording = false
      (System.nanoTime() - t0) / 1e9
    }
    val passes = c.passes
    def runPass(k: Int): Double = {
      c.pass = k
      val t0 = System.nanoTime()
      w.pass(c, passes(k))
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up, untimed: the workload's warm pass, then its first op
    // passes, which still run slower while the JIT compiles
    val tw = System.nanoTime()
    w.warm(c)
    val warmPasses = plan.get("warm_passes").asInt
    val warmWalls = (0 until warmPasses).map(runPass)
    c.ops.clear()
    w.reset()
    val warmS = (System.nanoTime() - tw) / 1e9

    // timed region: whole passes, at least the workload's minimum, until
    // the time budget is spent; a traced run makes two passes and traces
    // half of each
    val seconds = plan.get("seconds").asDouble
    val minPasses = plan.get("min_passes").asInt
    val walls = ArrayBuffer.empty[Double]
    c.firstTimedPass = warmPasses
    val tStart = System.nanoTime()
    if (!traced) {
      var k = warmPasses
      while (k < passes.size && (k - warmPasses < minPasses ||
          (System.nanoTime() - tStart) / 1e9 < seconds)) {
        walls += runPass(k); k += 1
      }
    } else {
      c.alternate = true
      walls += runPass(warmPasses)
      walls += runPass(warmPasses + 1)
      c.alternate = false
      trace.recording = true
      trace.span("kernels")(w.kernels(c))
      trace.drain()
      trace.recording = false
    }
    // live heap: what each heap pool held right after the last full GC.
    // Spark's cleaner frees broadcasts and shuffles of collected frames
    // asynchronously, so the GC is repeated after it has had time to run.
    c.sweep()
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    if (traced) trace.write(Paths.get(plan.get("trace_path").asText))
    val extra = w.extra(c)
    c.spark.stop()

    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("launch_s", launchS)
    res.put("prepare_s", prepareS)
    res.put("setup_reps_s", repS.asJava)
    res.put("warm_s", warmS)
    res.put("warm_pass_walls_s", warmWalls.asJava)
    res.put("pass_walls_s", walls.asJava)
    res.put("heap_after_gc_mb", heapMb)
    res.put("cores", c.cores)
    extra.foreach { case (k, v) => res.put(k, v) }
    res.put("ops", c.ops.map { o =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("pass", o.pass); m.put("kind", o.kind); m.put("name", o.name)
      m.put("s", o.seconds); m.put("ok", o.ok); m.put("err", o.err)
      m.put("out", o.out); m.put("traced", o.traced)
      m
    }.asJava)
    mapper.writeValue(new File(args(1)), res)
  }
}
