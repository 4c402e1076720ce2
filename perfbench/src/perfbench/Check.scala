package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.model.ExtractionResult

/** One extracted row as the check sees it. */
final case class Got(url: String, success: Boolean, text: String, error: String)

/** Outcome of comparing a pass's output with the generated golden text. */
final case class Verdict(docs: Int, rows: Int, missing: Seq[String], duplicate: Seq[String],
                         failed: Seq[(String, String)], mismatched: Seq[String],
                         unexpected: Seq[String]) {
  def bad: Int = missing.size + duplicate.size + failed.size + mismatched.size + unexpected.size
  def ok: Boolean = bad == 0
  /** Every offending url is reported, not filtered out; capped for the log. */
  def summary: Json.Obj = Json.obj(
    "docs" -> docs, "rows" -> rows, "bad" -> bad,
    "missing" -> missing.take(20), "duplicate" -> duplicate.take(20),
    "failed" -> failed.take(20).map { case (u, e) => Json.obj("url" -> u, "error" -> e) },
    "mismatched" -> mismatched.take(20), "unexpected" -> unexpected.take(20))
}

object Check {

  /** Byte-identity per url against the golden, plus missing, duplicate,
    * failed and unexpected urls. */
  def verify(golden: Map[String, String], got: Seq[Got]): Verdict = {
    val byUrl = got.groupBy(_.url)
    Verdict(
      docs = golden.size, rows = got.size,
      missing = golden.keys.filterNot(byUrl.contains).toSeq.sorted,
      duplicate = byUrl.collect { case (u, rs) if rs.size > 1 => u }.toSeq.sorted,
      failed = got.filterNot(_.success).map(g => (g.url, g.error)).sortBy(_._1),
      mismatched = got.filter(g => g.success && golden.get(g.url).exists(_ != g.text))
        .map(_.url).sorted,
      unexpected = got.map(_.url).filterNot(golden.contains).sorted)
  }

  /** The check must flag each injected fault, and only it: one altered byte,
    * one dropped row, one duplicated row. Returns the faults it missed. */
  def selfTest(golden: Map[String, String], got: IndexedSeq[Got]): Seq[String] = {
    val i = got.indexWhere(_.success)
    if (i < 0) return Seq("no successful row to alter")
    val g = got(i)
    def only(v: Verdict, flagged: Verdict => Seq[String]) = flagged(v) == Seq(g.url) && v.bad == 1
    Seq(
      "mismatch" -> only(verify(golden, got.updated(i, g.copy(text = g.text + "\u0000"))), _.mismatched),
      "missing" -> only(verify(golden, got.patch(i, Nil, 1)), _.missing),
      "duplicate" -> only(verify(golden, got :+ g), _.duplicate),
    ).collect { case (name, false) => name }
  }

  val resultFields: Seq[String] = Encoders.product[ExtractionResult].schema.fieldNames.toSeq

  /** Problems with a timed physical plan: the kernel must still run as a
    * MapPartitions and every ExtractionResult field must be serialised, so
    * no pruning turned the pass into a row count. */
  def planProblems(plan: String): Seq[String] = {
    val serializer = plan.linesIterator.filter(_.contains("SerializeFromObject")).mkString("\n")
    (if (plan.contains("MapPartitions")) Nil else Seq("no MapPartitions (kernel) in plan")) ++
      (if (serializer.isEmpty) Seq("no SerializeFromObject in plan") else Nil) ++
      resultFields.filterNot(f => serializer.contains(s"AS $f#")).map(f => s"field $f not serialised")
  }

  /** Keeps the executed plans of the latest queries, as they ran. */
  final class PlanCapture extends QueryExecutionListener {
    private val recent = scala.collection.mutable.Queue[String]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        recent.enqueue(qe.executedPlan.toString)
        if (recent.size > 32) recent.dequeue()
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    /** The latest plan whose text contains `marker` (e.g. the sink's name). */
    def latest(marker: String): String = synchronized(recent.findLast(_.contains(marker)).getOrElse(""))
  }

  def capture(spark: SparkSession): PlanCapture = {
    val c = new PlanCapture
    spark.listenerManager.register(c)
    c
  }
}
