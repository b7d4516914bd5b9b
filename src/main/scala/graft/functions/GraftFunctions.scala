package graft.functions

import graft.core.ReplayMode
import graft.plans.{BboReplayStrategy, BboWindowAggregate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration: makes the engine's custom expressions
  * callable from `spark.sql` —
  *
  * {{{
  *   SELECT *, bbo_from_price_updates(price, qty, is_bid, 2) OVER (
  *     PARTITION BY product ORDER BY seq
  *     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo
  *   FROM events_stream
  * }}}
  *
  * The trailing integer literal is `n` (top-N depth), mirroring the
  * reference's `n` kwarg (reference __init__.py:22-210).
  *
  * The `bbo_from_price_*` functions require an ORDER BY and the frame
  * `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`, and plan as the
  * replay exec (`graft.plans.BboReplayExec`). Any other frame — including
  * the default `RANGE` frame of a bare `OVER (... ORDER BY ...)` — and any
  * use outside a window fail at planning with a named error.
  */
object GraftFunctions {

  /** Name → expression builder for every SQL-surface function; shared by
    * session-local registration (registerAll) and the
    * spark.sql.extensions path (GraftExtensions.injectFunction). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "long_array_dot" -> { exprs =>
      require(exprs.size == 2, "long_array_dot(a, b)")
      LongArrayDot(exprs(0), exprs(1))
    },
    "token_shingle_hashes" -> { exprs =>
      require(exprs.size == 2, "token_shingle_hashes(text, k literal)")
      val k = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"k must be an integer literal, got $other")
      }
      TokenShingleHash(exprs.head, k)
    },
    "simhash48" -> { exprs =>
      require(exprs.size == 1, "simhash48(text) — returns struct(simhash, n_tok)")
      SimHash48(exprs.head)
    },
    "minhash_signature" -> { exprs =>
      require(exprs.size == 3,
        "minhash_signature(text, k literal, num_hashes literal)")
      val k = intLit(exprs(1), "k")
      val numHashes = intLit(exprs(2), "num_hashes")
      // the permutation family lives with its oracle SQL in DedupOps;
      // mirror the constants here to keep functions/ free of a pipeline
      // dependency cycle (spec-pinned: GraftExtensionsSpec asserts the
      // SQL form ≡ DedupOps.minhashSignature)
      val prime = 4294967311L
      MinhashSig(exprs.head, k,
        Array.tabulate(numHashes)(i => ((2L * i + 1) * 2654435761L) % prime),
        Array.tabulate(numHashes)(i => 1L * i * i * 65537 + 7), prime)
    },
    "lsh_bucket" -> { exprs =>
      require(exprs.size == 2, "lsh_bucket(scaled_vec, planes literal)")
      LshBucket(exprs.head, intLit(exprs(1), "planes"))
    },
    "min_k" -> { exprs =>
      require(exprs.size == 2, "min_k(bigint_col, k literal) — aggregate")
      LongMinK(exprs.head, intLit(exprs(1), "k"))
    },
    "bbo_from_price_updates" -> (exprs => mkBbo(ReplayMode.Updates, exprs)),
    "bbo_from_price_mutations" -> (exprs => mkBbo(ReplayMode.Mutations, exprs)),
    "bbo_from_price_mutations_with_modify" -> (exprs => mkBbo(ReplayMode.Modify, exprs)))

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  def registerAll(spark: SparkSession): Unit = {
    BboReplayStrategy.ensureRegistered(spark)
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private def mkBbo(mode: ReplayMode, exprs: Seq[Expression]): Expression = {
    require(exprs.size == mode.arity + 1,
      s"expected ${mode.arity + 1} arguments (event columns..., n literal), got ${exprs.size}")
    val n = exprs.last match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"the last argument must be an integer literal for n, got $other")
    }
    // Cast event children to the fold's types at analysis time, as the
    // BboWindow API does: an INT price column then resolves cleanly.
    BboWindowAggregate(mode, n, BboWindowAggregate.castEvents(exprs.init))
      .toAggregateExpression()
  }
}
