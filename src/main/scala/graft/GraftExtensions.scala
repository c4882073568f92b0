package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: registers the native kernels as SQL
  * functions, so the whole surface is reachable from `spark.sql(...)` and
  * `expr(...)` strings — not just the Scala Column API:
  *
  * {{{
  *   spark.sql("SELECT simhash64(split(text, '\\s+')) FROM docs")
  *   spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * Activate with `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[Sessions.config]] for every session this library builds).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // jaccard-threshold filters rewrite to the fused early-exit predicate
    ext.injectOptimizerRule(_ => graft.plans.JaccardThresholdRule)
    register(ext, "cosine_similarity", "cosine similarity of two float arrays", 2)(
      args => CosineSimilarity(args(0), args(1)))
    register(ext, "jaccard_similarity", "set-Jaccard of two string arrays", 2)(
      args => JaccardSimilarity(args(0), args(1)))
    register(ext, "simhash64", "64-bit SimHash of a token array", 1)(
      args => SimHash64(args(0)))
    register(ext, "char_ngrams", "character n-grams of a string", 2)(
      args => CharNgrams(args(0), intArg(args(1), "char_ngrams.n")))
    register(ext, "minhash_band_hashes",
      "LSH band hashes of the minhash signature of k-token shingles", 4)(
      args => MinHashBandHashes(args(0), intArg(args(1), "k"),
        intArg(args(2), "numHashes"), intArg(args(3), "bands")))
    register(ext, "hashed_shingle_set",
      "sorted distinct xxhash64 values of the k-token shingles of a token array", 2)(
      args => HashedShingleSet(args(0), intArg(args(1), "k")))
    register(ext, "element_counts",
      "occurrence-count map of a string array (element -> count)", 1)(
      args => ElementCounts(args(0)))
    register(ext, "jaccard_sorted", "exact Jaccard of two sorted-distinct bigint arrays", 2)(
      args => JaccardSorted(args(0), args(1)))
    register(ext, "hyperplane_bucket",
      "random-hyperplane sign-bit bucket of a float vector (optional band offset)", 2, 3)(
      args => HyperplaneBucket(args(0), intArg(args(1), "planes"),
        if (args.length == 3) intArg(args(2), "offset") else 0))
  }

  /** Registers `name`, whose builder sees only an argument count in `arities`. */
  private def register(ext: SparkSessionExtensions, name: String, usage: String, arities: Int*)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name, usage),
      args => {
        require(arities.contains(args.length),
          s"$name expects ${arities.mkString(" or ")} arguments, got ${args.length}")
        build(args)
      }))

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be a literal integer, got $other")
    }
  }
}
