package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over an sf directory, the
  * DuckDB SQL that is its oracle, and the sets it belongs to. Each
  * family file under `graft/queries/` declares its queries once, with
  * the builder and the oracle side by side; `SparkEntry.queries` and
  * `SparkEntry.oracleSql` are views of [[QuerySpec.all]].
  *
  * The oracle is built on demand: the SQL bakes in
  * [[graft.config.PortableSalt]] constants, and building the registry
  * must leave that object uninitialized until a tool has validated the
  * salt.
  *
  * Determinism rules every query keeps (so DuckDB and Spark hash-match):
  *  - every query ends in a total ORDER BY on a unique key set;
  *  - doubles that come out of aggregation are rounded with
  *    [[graft.functions.MathFunctions.roundTo]] — an explicit
  *    `floor(x·10^d+0.5)/10^d` that is bit-identical across engines
  *    (Spark's own `round` HALF_UPs the shortest decimal repr, which
  *    diverges from engines rounding the binary value);
  *  - thresholds are only applied to exactly-representable values
  *    (integer ratios, sequentially-folded dot products) and sit far
  *    from any data point (verified against the test data).
  */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracle: () => String, tags: Set[QuerySpec.Tag])

object QuerySpec {

  sealed trait Tag
  /** One of the queries in `graft.Bench`'s compact stdout line. */
  case object Headline extends Tag
  /** Graded by `graft.tools.ScaleSmoke`'s 10× tier: driven by the
    * tables that tier scales (documents, embeddings, events). */
  case object Scale10x extends Tag
  /** Dumped to PLANS.md by `graft.PlanDump`, with what its plan shows. */
  final case class PlanDoc(why: String) extends Tag
  /** Checked inside tier-1 against its DuckDB golden in
    * `src/test/resources/oracle/<name>.parquet`. */
  case object Golden extends Tag

  def apply(name: String, tags: Tag*)(build: (SparkSession, String) => DataFrame)(
      oracle: => String): QuerySpec =
    QuerySpec(name, build, () => oracle, tags.toSet)

  /** Every registered query, family by family. */
  lazy val all: Seq[QuerySpec] =
    TpchQueries.specs ++ PipelineQueries.specs ++ DedupQueries.specs ++ EmbQueries.specs ++
      TextQueries.specs ++ EventQueries.specs ++ SketchQueries.specs ++ SampQueries.specs ++
      MetaQueries.specs

  def tagged(tag: Tag): Seq[String] = all.filter(_.tags(tag)).map(_.name)

  /** (name, why) of every query with a [[PlanDoc]]. */
  def planDocs: Seq[(String, String)] =
    all.flatMap(q => q.tags.collectFirst { case PlanDoc(why) => q.name -> why })

  /** `names`, or an IllegalArgumentException that names the ones no
    * query is registered under. */
  def requireKnown(names: Seq[String]): Seq[String] = {
    val known = all.map(_.name).toSet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }

  /** The subset a `SPARK_GRAFT_ONLY=a,b,c` value selects; None when
    * unset. A value naming an unknown query (or none at all) fails. */
  def parseOnly(raw: Option[String]): Option[Set[String]] = raw.map { v =>
    val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"SPARK_GRAFT_ONLY='$v' names no query")
    requireKnown(names).toSet
  }

  /** [[parseOnly]] of the `SPARK_GRAFT_ONLY` environment variable. */
  def only: Option[Set[String]] = parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))
}
