package graft.functions

import org.apache.spark.sql.Column

/** Dense-vector math over `array<float>` / `array<double>` embedding
  * columns, as native codegen'd expressions
  * ([[graft.plans.CosineSimilarity]] and its siblings), not UDFs.
  *
  * Scale note: these are per-row scalar expressions; the pairwise
  * operators that use them (similarity search, near-dup) control the
  * join fan-out — see [[graft.operators.Similarity]] and
  * [[graft.operators.Dedup]].
  */
object VectorFunctions {

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  import graft.plans.{CosineSimilarity, SquaredDistance, SquaredNorm}

  /** Sum of squares (native codegen'd loop). */
  def sqNorm(a: Column): Column =
    column(SquaredNorm(expression(a)))

  /** Cosine similarity; 0.0 when either vector has zero norm. Fused
    * single-expression dot+norms ([[graft.plans.CosineSimilarity]]).
    */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Squared Euclidean distance (native codegen'd loop). */
  def sqDist(a: Column, b: Column): Column =
    column(SquaredDistance(expression(a), expression(b)))
}
