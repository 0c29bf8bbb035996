package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** Session extensions registering the engine's custom Catalyst
  * expressions for SQL use. Attach with
  * `spark.sql.extensions=graft.GraftExtensions` (e.g. as an `extra`
  * conf of [[Sessions.local]]) or a builder's
  * `withExtensions(new GraftExtensions)`; after that e.g.
  * `SELECT rolling_winnow(text, 8, 4), simhash64(text) FROM docs`
  * plans natively — the full custom-expression surface, not just the
  * DataFrame API, so SQL-only consumers (views, the q22/q120/q146
  * spark.sql path, JDBC clients on a thrift server) reach the same
  * operators.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registry.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {
  /** Integer-literal argument at `pos`, or `default` when absent.
    * Non-literal values raise at analysis time — silently falling
    * back to defaults would compute wrong fingerprints without any
    * signal.
    */
  private def intArg(fn: String, args: Seq[Expression], pos: Int,
      default: Int): Int =
    args.lift(pos).map {
      case Literal(v: Int, _) => v
      // IllegalArgumentException surfaces at analysis (the builder
      // runs during function resolution); the previous
      // AnalysisException used a legacy error class Spark 4 can no
      // longer format, which buried the message under INTERNAL_ERROR
      case other => throw new IllegalArgumentException(
        s"$fn argument ${pos + 1} must be an integer literal, got $other")
    }.getOrElse(default)

  /** The engine's SQL-callable custom expressions. Defaults mirror the
    * DataFrame-API call sites: winnow (k=8, w=4), shingles n=3,
    * MinHash 16 hashes × 4 bands (q36/q55's banding).
    */
  private[graft] val registry: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "rolling_winnow" -> { args =>
        RollingWinnow(args.head, intArg("rolling_winnow", args, 1, 8),
          intArg("rolling_winnow", args, 2, 4))
      },
      "md5_winnow" -> { args =>
        Md5Winnow(args.head, intArg("md5_winnow", args, 1, 8),
          intArg("md5_winnow", args, 2, 4))
      },
      "simhash64" -> { args => SimHash64(args.head) },
      "md5_simhash60" -> { args => Md5SimHash60(args.head) },
      "deflate_ratio" -> { args => DeflateRatio(args.head) },
      "shingle_hashes" -> { args =>
        ShingleHashes(args.head, intArg("shingle_hashes", args, 1, 3))
      },
      "word_shingles" -> { args =>
        WordShingles(args.head, intArg("word_shingles", args, 1, 3))
      },
      "minhash_bands" -> { args =>
        MinHashBands(args.head, intArg("minhash_bands", args, 1, 16),
          intArg("minhash_bands", args, 2, 4))
      },
      "md5_minhash_band_keys" -> { args =>
        Md5MinHashBandKeys(args.head,
          intArg("md5_minhash_band_keys", args, 1, 16),
          intArg("md5_minhash_band_keys", args, 2, 4))
      },
      "vec_dot" -> { args =>
        require(args.length == 2, "vec_dot requires two array args")
        VecDot(args(0), args(1))
      },
      "vec_dot_i32" -> { args =>
        require(args.length == 2, "vec_dot_i32 requires two array args")
        VecDotI32(args(0), args(1))
      })

  /** Imperative registration for an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registry.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
