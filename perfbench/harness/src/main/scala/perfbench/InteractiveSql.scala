package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.Output
import graft.sources.{DeletionVectors, DeltaReader, DeltaWriter}

/** The adt CLI's user path on one long-lived `AdtContext` session: the
  * `view`, `schema` and `execute` verbs over tables of every source
  * kind, each result rendered through `Output.format` as the CLI prints
  * it, and `execute` DML on one Delta table with deletion vectors, each
  * write followed by a count-and-checksum read. Outputs are checked
  * after the run. */
object InteractiveSql extends Workload {

  // bytes created under the DML table's directory by the timed writes
  private var bytesAll = 0L
  private var bytesInsertData = 0L

  /** The Delta tables, built once through the library's writer into the
    * inputs every set-up copies: a plain one, one that set-up gives
    * deletion vectors, one that replays a checkpoint plus a later
    * commit, and the table the DML writes go to. */
  override def prepare(c: Ctx): Unit = {
    val spark = c.spark
    val in = c.inputs
    def pq(t: String) = spark.read.parquet(s"$in/sf0.1/$t.parquet")
    val orders = pq("orders")
    val part = pq("part")
    DeltaWriter.append(orders.filter(col("o_orderkey") <
      c.plan.get("orders_delta_keys").asLong), s"$in/orders_delta")
    DeltaWriter.append(pq("customer"), s"$in/customer_dv")
    DeltaWriter.append(part.filter(col("p_partkey") % 2 === 0), s"$in/part_cp")
    DeltaWriter.checkpoint(spark, s"$in/part_cp")
    DeltaWriter.append(part.filter(col("p_partkey") % 2 === 1), s"$in/part_cp")
    DeltaWriter.append(orders.filter(col("o_orderkey") <
      c.plan.get("dml_keys").asLong), s"$in/t")
  }

  /** Register every source with `CREATE EXTERNAL TABLE`, then turn on
    * deletion vectors and delete through the library's own DML. */
  def setup(c: Ctx): Unit = {
    c.plan.get("ddl").elements.asScala.map(_.asText).foreach(c.register)
    for (t <- Seq("customer_dv", "t"))
      c.adt.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')")
    c.adt.sql("DELETE FROM customer_dv WHERE c_custkey % 7 = 0")
  }

  def warm(c: Ctx): Unit = c.plan.get("warm").elements.asScala.foreach(run(c, _))

  override def reset(): Unit = { bytesAll = 0L; bytesInsertData = 0L }

  def pass(c: Ctx, ops: JsonNode): Unit = ops.elements.asScala.foreach(run(c, _))

  /** One CLI statement. `view` appends the CLI's blind `limit 50`,
    * `schema` projects `describe` the way the CLI does; a `write` runs
    * DML (or a checkpoint) through the library and counts the bytes it
    * created; a `read` collects the checksum row. */
  private def run(c: Ctx, st: JsonNode): Unit = {
    val verb = st.get("verb").asText
    val kind = st.get("kind").asText
    val sql = st.get("sql").asText
    val tp = st.get("trace_pass").asInt
    verb match {
      case "write" => write(c, st.get("table").asText, kind, sql, tp)
      case "read" => c.op("read", kind, tp) {
        val df = c.trace.span("adtcontext.sql", Map("kind" -> "select"))(c.adt.sql(sql))
        c.trace.span("action")(df.collect()).head.toSeq.mkString(",")
      }
      case _ => c.op(verb, kind, tp) {
        val df = c.trace.span("adtcontext.sql", Map("kind" -> kind)) {
          verb match {
            case "view" => c.adt.sql(s"$sql limit 50")
            case "schema" => c.adt.sql(sql).selectExpr("col_name", "data_type")
            case _ => c.adt.sql(sql)
          }
        }
        if (kind != "ddl" && c.trace.recording) {
          c.trace.span("catalyst.plan")(df.queryExecution.executedPlan)
          c.trace.point("phases", PipelineHeavy.phases(df))
        }
        c.trace.span("output.format") {
          if (verb == "view") Output.format(df, 50) else Output.format(df)
        }
      }
    }
  }

  private def write(c: Ctx, table: String, dml: String, sql: String,
      tracePass: Int): Unit = {
    val dir = new File(s"${c.data}/$table")
    val before = Dirs.sizes(dir)
    c.op("write", dml, tracePass) {
      c.trace.span("deltawriter.commit", Map("verb" -> dml)) {
        if (dml == "checkpoint") DeltaWriter.checkpoint(c.spark, dir.getPath)
        else c.adt.sql(sql)
      }
      ""
    }
    val created = Dirs.sizes(dir) -- before.keySet
    bytesAll += created.values.sum
    if (dml == "insert")
      bytesInsertData += created.filter(kv => !kv._1.startsWith("_delta_log")).values.sum
    c.trace.point("fs", Map("bytes_created" -> created.values.sum,
      "files_created" -> created.size))
    if (c.trace.recording) readerLayer(c, dir.getPath)
  }

  /** Traced runs only: the Delta reader's own layers, called standalone
    * on the table as the last write left it. */
  private def readerLayer(c: Ctx, path: String): Unit = {
    val log = new File(path, "_delta_log")
    val cp = new File(log, "_last_checkpoint")
    val cpVersion =
      if (cp.exists()) new ObjectMapper().readTree(cp).get("version").asLong else -1L
    val tail = Option(log.listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.matches("\\d{20}\\.json") && f.getName.take(20).toLong > cpVersion)
    val snap = c.trace.span("deltareader.snapshot",
      Map("commits_since_checkpoint" -> tail))(DeltaReader.snapshot(c.spark, path))
    val dvs = snap.files.flatMap(_.deletionVector)
    c.trace.span("deltareader.dv_decode", Map("dvs" -> dvs.size)) {
      dvs.foreach(dv => DeletionVectors.deletedRows(dv, path))
    }
    c.trace.span("deltareader.load")(DeltaReader.load(c.spark, path))
  }

  override def extra(c: Ctx): Map[String, Any] =
    Map("bytes_created" -> bytesAll, "insert_data_bytes" -> bytesInsertData)
}
