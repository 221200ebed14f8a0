package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: its Spark plan over an sf dir and the DuckDB SQL
  * that replays it. The oracle is by-name, so building the plan table
  * never builds oracle text.
  */
final class Entry(val name: String, val plan: (SparkSession, String) => DataFrame,
    oracle0: => String) {
  def oracle: String = oracle0
}

/** A query family: its body registers each query once, plan beside
  * oracle, with `query(name)(plan)(oracle)`.
  *
  * Oracle-parity rules: columns aliased identically on both sides;
  * aggregate sums go through DECIMAL so both engines are exact, then cast
  * to DOUBLE; ratios are computed with identical expressions and rounded;
  * timestamps are emitted as formatted strings (parquet tz metadata would
  * otherwise make the compare engine-dependent).
  */
abstract class Family {
  private val registered = scala.collection.mutable.ArrayBuffer.empty[Entry]

  final def entries: Seq[Entry] = registered.toSeq

  protected final def query(name: String)(plan: (SparkSession, String) => DataFrame)(
      oracle: => String): Unit =
    registered += new Entry(name, plan, oracle)
}

object Registry {
  /** The families' entries by name. A name registered twice is an error:
    * a map literal would silently keep the last one.
    */
  def union(families: Family*): Map[String, Entry] = {
    val all = families.flatMap(_.entries)
    val repeated = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(repeated.isEmpty,
      s"query name registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all.map(e => e.name -> e).toMap
  }
}
