package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL surface for graft's native expressions: `GraftFunctions.register(spark)`
  * adds them to a session as temp functions (`GraftSession` does this
  * for every session it builds). After it:
  * `SELECT cosine_sim(a.embedding, b.embedding)`,
  * `simhash64(tokens)`, `jaccard_sorted(x, y)`,
  * `hashed_shingle_set(tokens, 3)` work in plain SQL.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def stringArrayArg(e: Expression, what: String): Array[String] =
    if (!e.foldable) throw new IllegalArgumentException(s"$what must be a foldable array<string>")
    else e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType).map {
          case null => throw new IllegalArgumentException(
            s"$what must not contain NULL elements")
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"$what must be an array<string>, found element $other")
        }
      case other => throw new IllegalArgumentException(s"$what must be an array<string>, got $other")
    }

  private val builders: Map[String, Seq[Expression] => Expression] = Map(
    "cosine_sim" -> ((es: Seq[Expression]) => Native.CosineSimilarity(es(0), es(1))),
    "simhash64" -> ((es: Seq[Expression]) => Native.SimHash64(es.head)),
    "simhash_portable" -> ((es: Seq[Expression]) => Native.SimHashPortable(es.head)),
    "jaccard_sorted" -> ((es: Seq[Expression]) => Native.JaccardSortedLongs(es(0), es(1))),
    "hashed_shingle_set" -> ((es: Seq[Expression]) => Native.HashedShingleSet(es(0), intArg(es(1), "k"))),
    "shingle_minhash" -> ((es: Seq[Expression]) => {
        val fam = graft.scale.Shingling.HashFamily(
          numHashes = intArg(es(2), "numHashes"),
          seed = es.lift(3).map(intArg(_, "seed").toLong).getOrElse(42L))
        Native.ShingleMinHash(es(0), intArg(es(1), "k"),
          fam.coeffs.map(_._1).toArray, fam.coeffs.map(_._2).toArray)
      }),
    "l2_normalize" -> ((es: Seq[Expression]) => Native.L2Normalize(es.head)),
    // bpe_stats(text, array(lefts...), array(rights...)) /
    // bpe_tokens(...): native greedy BPE application with a literal
    // merge table (rank = array position)
    "bpe_stats" -> ((es: Seq[Expression]) => Bpe.BpeStats(es(0),
        stringArrayArg(es(1), "lefts"), stringArrayArg(es(2), "rights"))),
    "bpe_tokens" -> ((es: Seq[Expression]) => Bpe.BpeTokens(es(0),
        stringArrayArg(es(1), "lefts"), stringArrayArg(es(2), "rights"))),
    "normalize_nfc" -> ((es: Seq[Expression]) => Native.NormalizeNfc(es.head)),
    // aggregates: SELECT g, bounded_top_k(v, w, 5) ... GROUP BY g
    "bounded_top_k" -> ((es: Seq[Expression]) => Aggregates.BoundedTopK(es(0), es(1), intArg(es(2), "k"))),
    // bounded_top_k_double(v, w, k[, ascending]) — double weight, the
    // distance/similarity shape; ascending=true keeps the k SMALLEST
    // weights (distance), default false keeps the largest, matching
    // bounded_top_k's ordering
    "bounded_top_k_double" -> ((es: Seq[Expression]) => Aggregates.BoundedTopKDouble(es(0), es(1),
        intArg(es(2), "k"),
        ascending = es.lift(3).map {
          case Literal(v: Boolean, _) => v
          case other => throw new IllegalArgumentException(
            s"ascending must be a boolean literal, got $other")
        }.getOrElse(false))),
    "space_saving_top_k" -> ((es: Seq[Expression]) => Aggregates.SpaceSavingTopK(es(0),
        outputK = intArg(es(1), "outputK"),
        capacity = es.lift(2).map(intArg(_, "capacity")).getOrElse(4096))),
    "weighted_quantile_sketch" -> ((es: Seq[Expression]) => {
        val q = es(2) match {
          case Literal(v: Double, _) => v
          // plain SQL `0.5` parses as a DECIMAL literal, whose value
          // class is Spark's own Decimal (not java.math.BigDecimal)
          case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
          case Literal(v: Int, _) => v.toDouble // q = 0 / 1
          case other => throw new IllegalArgumentException(
            s"q must be a numeric literal, got $other")
        }
        Aggregates.WeightedQuantileSketch(es(0), es(1), q,
          es.lift(3).map(intArg(_, "capacity")).getOrElse(4096))
      }))

  /** Register all functions as session temp functions. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
