package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine-native SQL functions (as opposed to the BigQuery-compat set in
  * [[BigQueryDialect]]) under graft's own names for SQL users, injected at
  * session start by [[GraftExtensions]].
  */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def info(name: String) = new ExpressionInfo("graft.functions.GraftFunctions", name)
    Seq(
      (FunctionIdentifier("cosine_similarity"), info("cosine_similarity"), {
        case Seq(a, b) => CosineSimilarity(a, b)
        case args => throw new IllegalArgumentException(
          s"cosine_similarity expects 2 args, got ${args.length}")
      }: Seq[Expression] => Expression),

      (FunctionIdentifier("minhash_signature"), info("minhash_signature"), {
        case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _)) =>
          MinHashSignature(a, n)
        case Seq(_, bad) => throw new IllegalArgumentException(
          "minhash_signature: second argument must be a plain INT literal " +
            s"(the signature width is fixed at plan time), got ${bad.sql}")
        case args => throw new IllegalArgumentException(
          s"minhash_signature expects (array<string>, int literal), got ${args.length} args")
      }: Seq[Expression] => Expression),

      (FunctionIdentifier("simhash_signature"), info("simhash_signature"), {
        case Seq(a) => SimHashSignature(a)
        case args => throw new IllegalArgumentException(
          s"simhash_signature expects 1 arg, got ${args.length}")
      }: Seq[Expression] => Expression),

      (FunctionIdentifier("bpe_token_count"), info("bpe_token_count"), {
        case Seq(a) => BpeTokenCount(a, graft.text.Bpe.mergesDefault)
        case args => throw new IllegalArgumentException(
          s"bpe_token_count expects 1 arg, got ${args.length}")
      }: Seq[Expression] => Expression))
  }
}
