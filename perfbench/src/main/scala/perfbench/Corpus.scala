package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** Corpus operators over generated `documents` and `events` tables in
  * sf layout: two near-duplicate joins, a text kernel and the streaming
  * run path, one or two per family (more would outlast a run; see
  * README.md, "Sizing"). Each is timed from the registry builder call
  * to the last row into the noop sink. The warm pass writes every
  * query's result to parquet instead, and those files are what the
  * external check compares with the DuckDB oracle. */
final class Corpus(in: String, out: String) extends Workload {
  private val truth = new ObjectMapper().readTree(new File(s"$in/truth.json"))
  private val sfDir = s"$in/sf"
  private val resultErrors = mutable.LinkedHashMap.empty[String, String]
  private val warmTimes = mutable.LinkedHashMap.empty[String, Double]

  private val queries = {
    val units = Map("stream" -> truth.path("events").asLong())
      .withDefaultValue(truth.path("docs").asLong())
    val registry = SparkEntry.registry
    Seq("dedup" -> "q53", "dedup" -> "q554", "text" -> "q140", "stream" -> "q74").map {
      case (group, id) =>
        val q = registry.find(_.name.startsWith(id + "_"))
          .getOrElse(throw new IllegalArgumentException(s"no registry query $id"))
        (q, group, units(group))
    }
  }

  def name: String = "corpus"

  def ops: Seq[Op] =
    queries.map { case (q, group, units) =>
      Op(q.name, group, "operators." + group, units, r => r.noop(() => q.fn(r.spark, sfDir)))
    }

  override def warm(r: Runner): Unit =
    queries.foreach { case (q, _, _) =>
      val t0 = System.nanoTime()
      try q.fn(r.spark, sfDir).write.mode("overwrite").parquet(s"$out/results/${q.name}")
      catch { case e: Exception => resultErrors += q.name -> e.toString }
      warmTimes += q.name -> (System.nanoTime() - t0) / 1e9
      r.releaseCaches()
    }

  /** Pass times fall by a fifth over the first two passes after the
    * warm pass, then hold within a few percent. One of them runs
    * untimed; the per-op medians over three timed passes absorb the
    * other. */
  override def extraWarmPasses: Int = 1
  override def minTimedPasses: Int = 3

  override def oracle: Map[String, String] =
    queries.flatMap { case (q, _, _) => q.oracle.map(q.name -> _) }.toMap

  override def checkOutputs(r: Runner): Map[String, Any] = Map(
    "results" -> s"$out/results",
    "result_errors" -> resultErrors.toMap)

  override def facts: Map[String, Any] =
    truth.fields().asScala.filter(_.getValue.isValueNode)
      .map(e => e.getKey -> (e.getValue.asText(): Any)).toMap ++
      Map("queries" -> queries.map(_._1.name), "warm_s" -> warmTimes.toMap)
}
