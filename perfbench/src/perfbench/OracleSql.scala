package perfbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the named catalog queries as one JSON
  * object `{"<query>": "<sql>"}`. No Spark session is started.
  *
  * Usage: OracleSql <out-file> <query-prefix>... */
object OracleSql {
  /** Full catalog name of each `qNN` prefix, in order. */
  def resolve(prefixes: Seq[String]): Seq[String] = prefixes.map(p =>
    SparkEntry.catalog.keys.find(k => k == p || k.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no catalog query $p")))

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }

  def write(out: java.nio.file.Path, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(out, names.map(q => s""""$q":"${esc(sql(q))}"""").mkString("{", ",", "}\n"))
  }

  def main(args: Array[String]): Unit = write(Paths.get(args(0)), resolve(args.toSeq.tail))
}
