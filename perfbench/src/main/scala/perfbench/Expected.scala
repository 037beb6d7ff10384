package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Expected result shapes: for each checked query, its sorted column names,
  * row count and (when a DuckDB oracle exists) the canonical digest. Made by
  * `tools/oracle.py`; see README.md.
  */
final class Expected(root: JsonNode) {

  def get(workload: String, key: String): Option[Canon.Shape] =
    Option(root.get(workload)).flatMap(w => Option(w.get(key))).map { n =>
      Canon.Shape(n.get("cols").elements().asScala.map(_.asText).toSeq,
        n.get("rows").asInt, Option(n.get("digest")).map(_.asText).getOrElse(""))
    }

  /** None when the result matches; otherwise what differs. An expected shape
    * without a digest is checked by columns and row count only.
    */
  def check(workload: String, key: String, cols: Seq[String],
      rows: Seq[org.apache.spark.sql.Row]): Option[String] =
    get(workload, key) match {
      case None => Some(s"no expected result recorded for $workload/$key")
      case Some(want) =>
        val got = Canon.shape(cols, rows)
        if (got.cols.map(_.toLowerCase) != want.cols.map(_.toLowerCase))
          Some(s"columns ${got.cols.mkString(",")} != ${want.cols.mkString(",")}")
        else if (got.rows != want.rows) Some(s"rows ${got.rows} != ${want.rows}")
        else if (want.digest.nonEmpty && got.digest != want.digest)
          Some(s"digest ${got.digest.take(12)} != ${want.digest.take(12)}")
        else None
    }
}

object Expected {
  def load(path: String): Expected = new Expected(new ObjectMapper().readTree(new File(path)))
}
