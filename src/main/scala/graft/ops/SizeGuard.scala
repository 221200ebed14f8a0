package graft.ops

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Every small-input / large-input path choice: below a site's limits an
  * operator takes its local or broadcast path, above them the distributed
  * path. The limits live in this one table, sizing is one aggregate
  * ([[measure]]), and tests force either side of a site with [[forcing]];
  * no operator takes a size parameter.
  */
private[graft] object SizeGuard {

  /** The small side runs while both estimates are within the limits. */
  final case class Site(name: String, maxRows: Long, maxBytes: Long)

  /** GraphOps off-ramps: the edge frame collected once to the driver - at
    * the node broadcast's 128 MB, one collect moves less than a loop that
    * re-broadcasts node frames to every executor every round.
    */
  val DriverEdges = Site("graph.driver_edges", 1L << 21, 128L << 20)
  /** A per-round node-frame broadcast in the distributed graph loops. */
  val NodeBroadcast = Site("graph.node_broadcast", 1L << 22, 128L << 20)
  /** `Query.queryBatch`: the children index collected and broadcast
    * (`Query.estimatedIndexBytes`), else the partition-local search. The
    * estimate's 128 B/node is the transient `PTNode` collect, which peaks
    * above the flat `graft.ptree.TrieIndex` it compiles to and is
    * broadcast as. The partition-local search bounds each of its groups by
    * the same byte limit.
    */
  val TrieIndex = Site("query.children_index", Long.MaxValue, 512L << 20)

  private val forced = new DynamicVariable[Map[Site, Boolean]](Map.empty)

  /** Run `body` with `sides` forced small (`true`) or large (`false`) on
    * this thread; nests, and restores on exit, exception included.
    */
  def forcing[A](sides: (Site, Boolean)*)(body: => A): A =
    forced.withValue(forced.value ++ sides)(body)

  def small(site: Site, rows: Long, bytes: Long): Boolean =
    forced.value.getOrElse(site, rows <= site.maxRows && bytes <= site.maxBytes)

  def small(site: Site, df: DataFrame, idCol: String, carriedW: Double = 8.0): Boolean = {
    val (rows, bytes) = measure(df, idCol, carriedW)
    small(site, rows, bytes)
  }

  /** Rows and conservative bytes of `df` held as (id, value) pairs keyed
    * by `idCol`, from ONE aggregate over the caller's materialized frame.
    * The measured id width is doubled (length() counts characters;
    * non-ASCII ids take more UTF-8 bytes, and UnsafeRow pads) before the
    * carried value's width and 16 B per row are added; `carriedW < 0`
    * means the carried value is another id and charges the id width again.
    */
  def measure(df: DataFrame, idCol: String, carriedW: Double = 8.0): (Long, Long) = {
    val r = df.agg(F.count(F.lit(1)),
      F.coalesce(F.avg(F.length(F.col(idCol).cast("string"))), F.lit(8.0))).head()
    val idW = 2.0 * r.getDouble(1)
    val cw = if (carriedW < 0) idW else carriedW
    (r.getLong(0), (r.getLong(0) * (idW + cw + 16)).toLong)
  }
}
