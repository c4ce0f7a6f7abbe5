package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * The library's native SQL functions, declared once: each name with its
 * family's builder, which checks the arity and builds the Catalyst
 * expression. [[register]] adds them to one session; [[graft.GraftExtensions]]
 * injects the same entries into every session configured with
 * `spark.sql.extensions=graft.GraftExtensions`.
 */
object NativeFunctions {

  val all: Seq[(String, FunctionBuilder)] = Seq(
    "vec_dot" -> VectorExpressions.vecDotBuilder,
    "word_ngrams" -> TextExpressions.wordNgramsBuilder,
    "word_ngram_hash48" -> TextExpressions.wordNgramHash48Builder,
    "simhash_bits" -> TextExpressions.simhashBitsBuilder,
    "max_token_run" -> TextExpressions.maxTokenRunBuilder,
    "token_entropy" -> TextExpressions.tokenEntropyBuilder,
    "cdc_cuts" -> TextExpressions.cdcCutsBuilder,
    "window_mins" -> TextExpressions.windowMinsBuilder,
    "char3_bucket_rates" -> TextExpressions.char3BucketRatesBuilder,
    "unicode_normalize" -> UnicodeExpressions.normalizeBuilder,
    "tokenize_text" -> UnicodeExpressions.tokenizeBuilder,
    "split_sentences" -> UnicodeExpressions.sentencesBuilder,
    "canonical_url" -> UrlExpressions.canonicalUrlBuilder,
    "url_host" -> UrlExpressions.urlHostBuilder,
    "url_domain" -> UrlExpressions.urlDomainBuilder,
    "strip_html" -> HtmlExpressions.stripHtmlBuilder,
    "extract_main" -> HtmlExpressions.extractMainBuilder,
    "http_status" -> HttpExpressions.httpStatusBuilder,
    "http_body" -> HttpExpressions.httpBodyBuilder,
    "http_header" -> HttpExpressions.httpHeaderBuilder,
    "decode_payload" -> HttpExpressions.decodePayloadBuilder,
    "blocklist_hits" -> BlocklistExpressions.blocklistHitsBuilder,
    "scrub_pii" -> PiiExpressions.scrubPiiBuilder,
    "robots_match" -> RobotsExpressions.robotsMatchBuilder,
    "bloom_might_contain" -> BloomExpressions.bloomMightContainBuilder,
    "cms_estimate" -> CmsExpressions.cmsEstimateBuilder,
    "bpe_encode" -> BpeIntExpressions.encodeBuilder,
    "bpe_segment" -> BpeIntExpressions.segmentBuilder,
    "bpe_encode_bytes" -> BpeByteExpressions.encodeBytesBuilder,
    "bpe_decode_bytes" -> BpeByteExpressions.decodeBytesBuilder,
    "bpe_segment_bytes" -> BpeByteExpressions.segmentBytesBuilder,
    "bpe_encode_gpt2" -> BpeByteExpressions.encodeGpt2Builder,
    "pretokenize_gpt2" -> BpeByteExpressions.pretokenizeGpt2Builder)

  /** The registry entry's description, the same on both paths. */
  def info(name: String): ExpressionInfo = new ExpressionInfo(getClass.getName, name)

  /** Adds to the session every function it does not have yet. Existing
    * entries are left alone, so repeated calls are cheap and never replace
    * a builder. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name), builder)
    }
  }
}
