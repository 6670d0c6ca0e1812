package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftx._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL-surface registration for the engine's native expressions: installs
  * `vec_dot`, `minhash_signature`, `shingle_array`, `simhash64`,
  * `rolling_fingerprint`, and `hyperplane_bands` into the session's
  * FunctionRegistry, so `spark.sql("SELECT simhash64(text) ...")` plans the
  * SAME codegen'd expression as the Column DSL — one implementation, two
  * front doors.
  *
  * Wire it either way Spark supports:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions()) ...
  *   // or, config-only (e.g. spark-submit):
  *   --conf spark.sql.extensions=graft.expressions.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))

    register("vec_dot", { args =>
      arity("vec_dot", args, 2); VectorDotProduct(args(0), args(1))
    })
    register("minhash_signature", { args =>
      arity("minhash_signature", args, 2)
      MinHashSignature(args(0), intArg(args(1), "minhash_signature", 1))
    })
    register("shingle_array", { args =>
      arity("shingle_array", args, 2)
      ShingleArray(args(0), intArg(args(1), "shingle_array", 1))
    })
    register("simhash64", { args =>
      arity("simhash64", args, 1); SimHash64(args(0))
    })
    register("rolling_fingerprint", { args =>
      arity("rolling_fingerprint", args, 1); RollingFingerprint(args(0))
    })
    register("unicode_normalize_text", { args =>
      arity("unicode_normalize_text", args, 1); UnicodeNormalizeText(args(0))
    })
    register("bounded_levenshtein", { args =>
      arity("bounded_levenshtein", args, 3)
      BoundedLevenshtein(args(0), args(1), intArg(args(2), "bounded_levenshtein", 2))
    })
    register("hyperplane_bands", { args =>
      arity("hyperplane_bands", args, 3)
      HyperplaneBands(args(0), intArg(args(1), "hyperplane_bands", 1),
        intArg(args(2), "hyperplane_bands", 2))
    })
    register("aho_corasick_counts", { args =>
      arity("aho_corasick_counts", args, 2)
      val pats = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.CreateArray(cs, _) =>
          cs.map {
            case Literal(s: org.apache.spark.unsafe.types.UTF8String,
              org.apache.spark.sql.types.StringType) => s.toString
            case other => throw new IllegalArgumentException(
              s"aho_corasick_counts: patterns must be string literals, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"aho_corasick_counts: argument 2 must be array(<string literals>), got $other")
      }
      AhoCorasickCounts(args(0), pats.toSeq)
    })
  }
}
