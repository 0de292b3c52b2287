package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProduct, MinHashSignature, NGramShingles, Normalise8601, WinnowingFingerprints}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get them
  * too:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT ngram_shingles(text, 5) FROM docs
  *   SELECT minhash_signature(ngram_shingles(text, 5), 8) FROM docs
  *
  * (or SparkSession.builder().withExtensions(new GraftExtensions); every
  * session this project builds gets them from [[GraftSession]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer: fuse sibling scalar percentiles into one array-percentile
    // buffer (quartile fences/scores build N identical maps otherwise)
    ext.injectOptimizerRule(_ => graft.plans.FusePercentiles)
    ext.injectFunction((
      FunctionIdentifier("ngram_shingles"),
      new ExpressionInfo(classOf[NGramShingles].getName, "ngram_shingles"),
      (args: Seq[Expression]) => NGramShingles(args.head, intArg(args(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => MinHashSignature(args.head, intArg(args(1), "k"))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("normalise_8601"),
      new ExpressionInfo(classOf[Normalise8601].getName, "normalise_8601"),
      (args: Seq[Expression]) => Normalise8601(args.head)))
    ext.injectFunction((
      FunctionIdentifier("winnowing_fingerprints"),
      new ExpressionInfo(classOf[WinnowingFingerprints].getName, "winnowing_fingerprints"),
      (args: Seq[Expression]) => WinnowingFingerprints(args.head,
        intArg(args(1), "k"), intArg(args(2), "w"))))
    ext.injectFunction((
      FunctionIdentifier("chunk_md5s"),
      new ExpressionInfo(classOf[graft.functions.ChunkMd5s].getName, "chunk_md5s"),
      (args: Seq[Expression]) => graft.functions.ChunkMd5s(args.head,
        intArg(args(1), "chunkTokens"))))
    ext.injectFunction((
      FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[graft.functions.InterleaveBits].getName, "interleave_bits"),
      (args: Seq[Expression]) => graft.functions.InterleaveBits(args.head, args(1),
        intArg(args(2), "bits"))))
    ext.injectFunction((
      FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[graft.functions.CharEntropy].getName, "char_entropy"),
      (args: Seq[Expression]) => graft.functions.CharEntropy(args.head)))
  }
}
