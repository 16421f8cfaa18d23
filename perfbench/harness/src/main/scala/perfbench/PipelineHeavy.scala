package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{DHash63, DotProductI64, Md5Long}
import graft.operators.{ConnectedComponents, PageRank}
import graft.plans.DistributedRank

/** LLM-data-pipeline queries from `SparkEntry.queries`, each built,
  * planned, then written to the `noop` sink, as graft.Bench runs them.
  * The warm pass writes every result as parquet instead, for the
  * fingerprint check against the DuckDB oracle. */
object PipelineHeavy extends Workload {

  private def sf(c: Ctx): String = s"${c.data}/sf0.1"

  def setup(c: Ctx): Unit = c.gcAfterOp = true

  def warm(c: Ctx): Unit =
    c.plan.get("warm").elements.asScala.map(_.asText).foreach { q =>
      SparkEntry.queries(q)(c.spark, sf(c)).coalesce(1).write
        .mode("overwrite").parquet(s"${c.out}/$q")
      c.sweep()
    }

  def pass(c: Ctx, ops: JsonNode): Unit =
    ops.elements.asScala.foreach { o =>
      val q = o.get("q").asText
      c.op("query", q, o.get("trace_pass").asInt) {
        val df = c.trace.span("queries.build")(SparkEntry.queries(q)(c.spark, sf(c)))
        c.trace.span("catalyst.plan")(df.queryExecution.executedPlan)
        c.trace.point("phases", phases(df))
        c.trace.span("action")(df.write.format("noop").mode("overwrite").save())
        ""
      }
    }

  /** Catalyst phase times of a planned frame, from its planning tracker. */
  def phases(df: DataFrame): Map[String, Any] = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning")
      .map(p => s"${p}_ms" -> ph.get(p).map(_.durationMs).getOrElse(0L)).toMap
  }

  /** The custom kernels, called standalone on fixed inputs derived from
    * the sf0.1 corpus. Each call is checked against a plain Spark
    * spelling of the same result where one exists. */
  override def kernels(c: Ctx): Unit = {
    val spark = c.spark
    def t(name: String) = spark.read.parquet(s"${sf(c)}/$name.parquet")
    def one(df: DataFrame): Seq[Any] = df.collect().head.toSeq

    c.op("kernel", "functions.dot_i64", 0) {
      val v = t("embeddings").select(col("vec_id"),
        transform(col("embedding"), x => round(x * 1000).cast("long")).as("v"))
      val pairs = v.filter(col("vec_id") < 64).as("a")
        .crossJoin(v.as("b"))
      val got = c.trace.span("functions.dot_i64")(one(pairs.agg(
        sum(DotProductI64.dot_i64(col("a.v"), col("b.v"))))))
      val want = one(pairs.agg(sum(aggregate(
        zip_with(col("a.v"), col("b.v"), (x, y) => x * y), lit(0L),
        (acc, x) => acc + x))))
      require(got == want, s"dot_i64 sum $got != $want")
      got.mkString(",")
    }
    c.op("kernel", "functions.md5_60", 0) {
      val words = t("documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val got = c.trace.span("functions.md5_60")(one(words.agg(
        sum(Md5Long.md5_60(col("w")) % 1000003L))))
      val want = one(words.agg(sum(
        conv(substring(md5(col("w")), 2, 15), 16, 10).cast("long") % 1000003L)))
      require(got == want, s"md5_60 sum $got != $want")
      got.mkString(",")
    }
    c.op("kernel", "functions.dhash63", 0) {
      val got = c.trace.span("functions.dhash63")(one(t("documents").agg(
        count(lit(1)), countDistinct(DHash63.dhash63(col("text").cast("binary"))))))
      require(got.head == 5000L, s"dhash63 saw ${got.head} documents")
      got.mkString(",")
    }
    c.op("kernel", "plans.distributed_rank", 0) {
      val li = t("lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
      val order = Seq(col("l_orderkey"), col("l_linenumber"))
      val rn = c.trace.span("plans.distributed_rank", Map("kernel" -> "rowNumber")) {
        one(DistributedRank.rowNumber(li, col("l_returnflag"), order, "rn")
          .groupBy("l_returnflag").agg(max("rn").as("m"), count(lit(1)).as("n"))
          .agg(sum(when(col("m") === col("n"), 1).otherwise(0)), count(lit(1))))
      }
      require(rn(0) == rn(1), s"rowNumber: max rn != count in ${rn(1)} keys")
      val rs = c.trace.span("plans.distributed_rank", Map("kernel" -> "runningSum")) {
        one(DistributedRank.runningSum(li, col("l_returnflag"), order,
          col("l_linenumber"), "rs")
          .groupBy("l_returnflag").agg(max("rs").as("m"), sum("l_linenumber").as("s"))
          .agg(sum(when(col("m") === col("s"), 1).otherwise(0)), count(lit(1))))
      }
      require(rs(0) == rs(1), s"runningSum: max != total in ${rs(1)} keys")
      s"${rn(1)},${rs(1)}"
    }
    // a sparse seeded graph over the document ids
    val pairs = t("documents").select(col("doc_id").as("d1"),
      pmod(xxhash64(col("doc_id"), lit(42L)), lit(5000L)).as("d2"))
      .filter(col("d1") =!= col("d2") && col("d1") % 3 === 0)
    c.op("kernel", "operators.cc_fixpoint", 0) {
      val edges = ConnectedComponents.symmetrize(pairs)
      val (labels, rounds) = c.trace.span("operators.cc_fixpoint") {
        val (l, r) = ConnectedComponents.fixpoint(edges, jump = true)
        (one(l.agg(countDistinct("lbl"), count(lit(1)))), r)
      }
      s"${labels.mkString(",")},$rounds"
    }
    c.op("kernel", "operators.pagerank", 0) {
      val edges = ConnectedComponents.symmetrize(pairs)
      val got = c.trace.span("operators.pagerank") {
        one(PageRank.rounds(edges, 10).agg(count(lit(1)), sum("pr")))
      }
      got.mkString(",")
    }
  }
}
