package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{MixedHash64, RollingHash64, Sketches}

/** Session extensions — the `SparkSessionExtensions` registration
  * path, so pure-SQL users get the engine's custom expressions
  * without touching the Scala API:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * // then: spark.sql("SELECT rolling_hash64(text) FROM docs")
  * }}}
  *
  * Per SURVEY.md §7.3, no custom optimizer Rule or SparkStrategy is
  * required for reference parity (Catalyst's built-ins cover the
  * plan shapes), so this intentionally registers functions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        new FunctionIdentifier(RollingHash64.name),
        new ExpressionInfo(
          classOf[RollingHash64].getCanonicalName,
          null,
          RollingHash64.name,
          "_FUNC_(str) - 64-bit polynomial rolling hash of str's UTF-8 bytes.",
          ""
        ),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(exprs.length == 1,
            s"rolling_hash64 expects exactly 1 argument, got ${exprs.length}")
          RollingHash64(exprs.head)
        }
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier(MixedHash64.name),
        new ExpressionInfo(
          classOf[MixedHash64].getCanonicalName,
          null,
          MixedHash64.name,
          "_FUNC_(str) - rolling_hash64 finished with murmur3 fmix64 avalanche.",
          ""
        ),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
          require(exprs.length == 1,
            s"mixed_hash64 expects exactly 1 argument, got ${exprs.length}")
          MixedHash64(exprs.head)
        }
      )
    )
    // sketch kernels (minhash_sig, simhash64, winnow_fp, gram_xxhashes).
    // Each entry carries its (min, max) arity so a SQL call with the
    // wrong argument count fails with the expected signature instead of
    // a raw IndexOutOfBoundsException from the builder (ADVICE r10).
    Seq[(String, String, (Int, Int), Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression)](
      ("minhash_sig", "_FUNC_(str, k, n) - MinHash signature over word k-grams.", (3, 3),
        es => Sketches.MinHashSigExpr(es(0), intLit(es(1), "k"), intLit(es(2), "numHashes"))),
      ("simhash64", "_FUNC_(str) - 64-bit SimHash over whitespace tokens.", (1, 1),
        es => Sketches.SimHash64Expr(es(0))),
      ("winnow_fp", "_FUNC_(str, k, w) - winnowing fingerprints (MOSS).", (3, 3),
        es => Sketches.WinnowExpr(es(0), intLit(es(1), "k"), intLit(es(2), "w"))),
      ("gram_xxhashes", "_FUNC_(str, k) - distinct word k-gram xxhash64 values.", (2, 2),
        es => Sketches.GramXxHashesExpr(es(0), intLit(es(1), "k"))),
      ("bloom_positions", "_FUNC_(str, k, n, m) - Bloom bit positions of word k-grams.", (4, 4),
        es => Sketches.BloomPositionsExpr(es(0), intLit(es(1), "k"),
          intLit(es(2), "numHashes"), intLit(es(3), "mBits"))),
      ("bloom_probe", "_FUNC_(str, filter, k, n, m) - (n_grams, n_maybe) against a packed filter.", (5, 5),
        es => Sketches.BloomProbeExpr(es(0), es(1), intLit(es(2), "k"),
          intLit(es(3), "numHashes"), intLit(es(4), "mBits"))),
      ("vec_dot", "_FUNC_(a, b) - left-associated inner product of two array<double>.", (2, 2),
        es => graft.functions.VectorKernels.VecDotExpr(es(0), es(1))),
      ("hyperplane_sig", "_FUNC_(v, bits, seed[, dim]) - random-hyperplane LSH bucket id.", (3, 4),
        es => graft.functions.VectorKernels.HyperplaneSigExpr(es(0),
          intLit(es(1), "bits"), intLit(es(2), "seed"),
          if (es.length > 3) intLit(es(3), "dim") else 64)),
      ("lang_id", "_FUNC_(str) - single-pass marker-based language guess.", (1, 1),
        es => graft.functions.LangIdKernel.LangIdExpr(es(0))),
      ("long_eq_count", "_FUNC_(a, b) - positions where two array<bigint> agree.", (2, 2),
        es => graft.functions.VectorKernels.LongEqCountExpr(es(0), es(1))),
      ("sorted_intersect_count",
        "_FUNC_(a, b) - common elements of two strictly ascending array<bigint>.", (2, 2),
        es => graft.functions.VectorKernels.SortedIntersectCountExpr(es(0), es(1))),
      ("vec_dist2", "_FUNC_(a, b) - squared euclidean distance of two array<double>.", (2, 2),
        es => graft.functions.VectorKernels.VecDist2Expr(es(0), es(1))),
      ("phash63", "_FUNC_(payload) - 63-bit average-hash of sampled payload bytes.", (1, 1),
        es => Sketches.PHash63Expr(es(0))),
      ("interleave_bits", "_FUNC_(a, b) - 64-bit Morton (Z-order) code of two ints.", (2, 2),
        es => graft.functions.InterleaveBits(es(0), es(1))),
      ("sq8_pack", "_FUNC_(v, mn, step) - SQ8 byte codes of an array<double>.", (3, 3),
        es => graft.functions.VectorKernels.Sq8PackExpr(es(0), es(1), es(2))),
      ("sq8_dequant", "_FUNC_(codes, mn, step) - reconstruct array<double> from SQ8 codes.", (3, 3),
        es => graft.functions.VectorKernels.Sq8DequantExpr(es(0), es(1), es(2))),
      ("sq8_adc", "_FUNC_(qw, codes) - asymmetric SQ8 inner-product term over byte codes.", (2, 2),
        es => graft.functions.VectorKernels.Sq8AdcExpr(es(0), es(1))),
      ("sign_bits64", "_FUNC_(v, thr) - 1-bit-per-dimension sign code of an array<double>.", (2, 2),
        es => graft.functions.VectorKernels.SignBits64Expr(es(0), es(1)))
    ).foreach { case (name, usage, (minA, maxA), builder) =>
      val guarded = (es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (es.length < minA || es.length > maxA)
          throw new IllegalArgumentException(
            s"$name expects ${if (minA == maxA) s"$minA" else s"$minA to $maxA"} " +
              s"argument(s), got ${es.length}; usage: ${usage.replace("_FUNC_", name)}")
        builder(es)
      }
      ext.injectFunction(
        (new FunctionIdentifier(name),
          new ExpressionInfo(Sketches.getClass.getCanonicalName, null, name, usage, ""),
          guarded))
    }
  }

  // accept any foldable int-ish expression (2+1, BIGINT literals, …),
  // not just Literal(Int) — SQL callers fold constants lazily
  private def intLit(
      e: org.apache.spark.sql.catalyst.expressions.Expression, what: String): Int =
    if (e.foldable) e.eval() match {
      case v: Int => v
      case v: Long if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
      case v: Short => v.toInt
      case v: Byte => v.toInt
      case other =>
        throw new IllegalArgumentException(s"$what must be an integer constant, got $other")
    } else throw new IllegalArgumentException(s"$what must be a constant expression, got $e")
}
