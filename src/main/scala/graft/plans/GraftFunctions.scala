package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** graft's SQL functions ([[functions]]) and their runtime
  * registration on a live session — the counterpart of
  * [[GraftExtensions]] (which hooks session construction via
  * `spark.sql.extensions`).
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Constant `array<array<double>>` argument (centroid matrix /
    * PQ codebook), folded once at resolution into the plan.
    */
  private def matrixArg(e: Expression, fname: String): Seq[Seq[Double]] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def bad(what: String) = throw new IllegalArgumentException(
      s"$fname expects a non-null constant array<array<double>>; $what")
    e match {
      case c if c.foldable => c.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) =>
          val v = c.eval()
          if (v == null) bad("got NULL")
          v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toObjectArray(ArrayType(DoubleType))
            .map { row =>
              if (row == null) bad("got a NULL row")
              row.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq
            }.toSeq
        case t => bad(s"got type ${t.simpleString} (write double literals, e.g. 1.0d)")
      }
      case other => bad(s"got non-constant $other")
    }
  }

  /** One SQL function: its name, its usage line and the builder of
    * its expression from the call's arguments. */
  final case class SqlFunction(name: String, usage: String, build: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")
  }

  /** Every graft SQL function: the one table [[register]] and
    * [[GraftExtensions]] both install. */
  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("vec_dot", "vec_dot(a, b) - sequential dot product of two array<double>",
      args => DotProduct(args(0), args(1))),
    SqlFunction("vec_cosine", "vec_cosine(a, b) - cosine similarity of two array<double>",
      args => CosineSimilarity(args(0), args(1))),
    SqlFunction("vec_sqnorm", "vec_sqnorm(a) - sum of squares",
      args => SquaredNorm(args(0))),
    SqlFunction("vec_sqdist", "vec_sqdist(a, b) - squared euclidean distance",
      args => SquaredDistance(args(0), args(1))),
    SqlFunction("word_shingles", "word_shingles(tokens, n) - distinct word n-grams",
      args => WordShinglesExpr(args(0), intArg(args(1), "n"))),
    SqlFunction("minhash_signature",
      "minhash_signature(shingles, k) - MinHash signature array<bigint> over the md5-60 shingle hash",
      args => MinHashSignatureExpr(args(0),
        graft.operators.Dedup.defaultCoeffs(intArg(args(1), "k")), 2147483647L)),
    SqlFunction("simhash_portable", "simhash_portable(tokens) - 60-bit md5-based SimHash",
      args => SimHash64Expr(args(0), 60)),
    SqlFunction("capped_counter", "capped_counter(key, cap) - memory-capped frequency map",
      args => CappedCounter(args(0), intArg(args(1), "cap")).toAggregateExpression()),
    // args(1): a constant array<array<double>> of centroids (any
    // foldable expression — `array(array(...))` literals included),
    // folded once at resolution into the plan
    SqlFunction("nearest_centroid", "nearest_centroid(vec, centroids) - argmin sqdist cell id",
      args => NearestCentroid(args(0), matrixArg(args(1), "nearest_centroid"))),
    SqlFunction("pq_encode", "pq_encode(vec, codebook, m) - PQ codes array<int>",
      args => PqEncode(args(0), matrixArg(args(1), "pq_encode"), intArg(args(2), "m"))),
    SqlFunction("pq_adc_score", "pq_adc_score(qvec, codes, codebook, m) - approx squared L2",
      args => PqAdcScore(args(0), args(1), matrixArg(args(2), "pq_adc_score"), intArg(args(3), "m"))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach(f => reg.registerFunction(FunctionIdentifier(f.name), f.info, f.build))
  }
}
