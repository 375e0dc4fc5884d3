package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** #27m `text_tokenizer_fertility` — the per-language tokenizer COST audit
  * (Petrov, La Malfa, Torr & Bibi 2023, "Language Model Tokenizers
  * Introduce Unfairness Between Languages"): tokens-per-word and
  * bytes-per-token per language for BOTH trained tokenizers (the BPE merge
  * model and the unigram LM), plus the cross-language PREMIUM ratio
  * relative to English — the fairness/cost number a team reads before
  * adopting a tokenizer: a language at premium 3 pays 3× the context
  * window and 3× the inference cost for the same content (SURVEY.md §2;
  * r13 verdict task #7).
  *
  * Composition contract (drift-proof): the per-word token counts come from
  * the SAME trainers and segmenters the apply ops ship —
  * [[BpeTrain.tokensOf]] under [[BpeTrain.learn]]'s merges, and
  * [[UnigramTrain.viterbi]] piece counts under the EM model — so fertility
  * can never disagree with `text_bpe_apply` / `text_unigram_apply` on any
  * word. Out-of-dictionary words emit 0 tokens (the apply family's
  * element_at-miss convention) and are reported honestly in `n_oov`.
  *
  * Readouts (one fixed-form rounding each, from exact integer masses):
  * `tokens_per_word` = n_tokens/n_words, `bytes_per_token` =
  * n_bytes/n_tokens (NULL when the language has no tokens), `premium` =
  * (n_tokens·en_words)/(n_words·en_tokens) with BOTH cross-products taken
  * in IEEE double (cast-then-multiply, identical order both engines) —
  * overflow-free at any corpus mass, unlike a BIGINT cross-product, which
  * wraps silently in Spark past ~3e9 tokens per side while the DuckDB
  * oracle throws (the r14 ADVICE divergence class); the round-4 readout
  * absorbs the ≤2⁻⁵² relative error of the double form. NULL when no
  * English rows exist to anchor it.
  *
  * Scale: the corpus pass is one explode + ONE broadcast word→counts join
  * (the model table is vocabulary-sized driver state, the bpe_apply
  * contract) + a map-side-combinable per-language aggregate; the premium
  * join broadcasts the ≤|langs| English row. Oracle is MODEL-AS-LITERAL
  * (`graft.OracleContext`): both learned word→count tables interpolate as
  * one VALUES literal and DuckDB replays the whole audit cross-engine. */
object Fertility extends graft.QueryModule {

  val EnLang = "en"

  /** The shared dictionary with both tokenizers' per-word token counts —
    * (word, bpe_n, uni_n), driver-sized by the trainer bounds (byte
    * length is computed corpus-side). */
  private def wordTokenCounts(s: SparkSession, dir: String): Seq[(String, Long, Long)] =
    BpeTrain.memo(s, "fertility", dir) {
      val dict = BpeTrain.wordCounts(s, dir)
      val merges = BpeTrain.trainMerges(s, dir)
      val model = UnigramTrain.trainedModel(s, dir)
      val lp = model.map { case (p, (_, l)) => p -> l }
      dict.toSeq.map { case (w, _) =>
        (w, BpeTrain.tokensOf(w, merges), UnigramTrain.viterbi(w, lp).length.toLong)
      }
    }

  def fertility(s: SparkSession, dir: String): DataFrame = {
    val counts = wordTokenCounts(s, dir)
    val tokTable =
      if (counts.isEmpty)
        s.createDataFrame(Seq.empty[(String, Long, Long)]).toDF("word", "bpe_n", "uni_n")
      else s.createDataFrame(counts).toDF("word", "bpe_n", "uni_n")
    val words = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("wb", octet_length(encode(col("word"), "UTF-8")).cast("long"))
    val perLang = words.join(broadcast(tokTable), Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("bpe_n").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("wb")).as("n_bytes"),
        sum(coalesce(col("bpe_n"), lit(0L))).as("bpe_tokens"),
        sum(coalesce(col("uni_n"), lit(0L))).as("uni_tokens"))
    // long form: one row per (tokenizer, lang)
    val base = graft.CacheRegistry.track(
      perLang.select(lit("bpe").as("tokenizer"), col("lang"), col("n_words"),
          col("n_oov"), col("n_bytes"), col("bpe_tokens").as("n_tokens"))
        .unionByName(perLang.select(lit("unigram").as("tokenizer"), col("lang"),
          col("n_words"), col("n_oov"), col("n_bytes"), col("uni_tokens").as("n_tokens"))))
    val en = base.filter(col("lang") === EnLang)
      .select(col("tokenizer"), col("n_words").as("en_words"), col("n_tokens").as("en_tokens"))
    base.join(broadcast(en), Seq("tokenizer"), "left")
      .select(col("tokenizer"), col("lang"), col("n_words"), col("n_oov"),
        col("n_tokens"), col("n_bytes"),
        round(col("n_tokens").cast("double") / col("n_words"), 4).as("tokens_per_word"),
        when(col("n_tokens") > 0,
          round(col("n_bytes").cast("double") / col("n_tokens"), 4)).as("bytes_per_token"),
        when(col("en_tokens") > 0 && col("n_words") > 0,
          round((col("n_tokens").cast("double") * col("en_words")) /
            (col("n_words").cast("double") * col("en_tokens")), 4)).as("premium"))
      .orderBy(col("tokenizer"), col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokenizer_fertility" -> (fertility _))

  /** MODEL-AS-LITERAL oracle: both word→token-count tables as one VALUES
    * literal; DuckDB replays the explode, the dictionary join, the
    * per-language masses, and every fixed-form readout. */
  private def fertilityOracleSql(s: SparkSession, dir: String): String = {
    val counts = wordTokenCounts(s, dir)
    val seg =
      if (counts.isEmpty)
        "SELECT '' AS word, 0::BIGINT AS bpe_n, 0::BIGINT AS uni_n WHERE false"
      else "VALUES " + counts.map { case (w, b, u) =>
        s"(${graft.OracleContext.sqlStr(w)}, $b::BIGINT, $u::BIGINT)"
      }.mkString(", ")
    s"""WITH tok(word, bpe_n, uni_n) AS ($seg),
       |w AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS word
       | FROM documents),
       |ww AS (SELECT lang, word, octet_length(encode(word))::BIGINT AS wb
       | FROM w WHERE word != ''),
       |j AS (SELECT ww.lang, ww.wb, tok.bpe_n, tok.uni_n
       | FROM ww LEFT JOIN tok USING (word)),
       |pl AS (SELECT lang, count(*)::BIGINT AS n_words,
       |  sum(CASE WHEN bpe_n IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       |  sum(wb)::BIGINT AS n_bytes,
       |  sum(coalesce(bpe_n, 0))::BIGINT AS bpe_tokens,
       |  sum(coalesce(uni_n, 0))::BIGINT AS uni_tokens
       | FROM j GROUP BY lang),
       |base AS (
       | SELECT 'bpe' AS tokenizer, lang, n_words, n_oov, n_bytes,
       |  bpe_tokens AS n_tokens FROM pl
       | UNION ALL
       | SELECT 'unigram', lang, n_words, n_oov, n_bytes, uni_tokens FROM pl),
       |en AS (SELECT tokenizer, n_words AS en_words, n_tokens AS en_tokens
       | FROM base WHERE lang = '$EnLang')
       |SELECT base.tokenizer, lang, n_words, n_oov, n_tokens, n_bytes,
       | round(n_tokens::DOUBLE / n_words, 4) AS tokens_per_word,
       | CASE WHEN n_tokens > 0
       |  THEN round(n_bytes::DOUBLE / n_tokens, 4) END AS bytes_per_token,
       | CASE WHEN en_tokens > 0 AND n_words > 0
       |  THEN round((n_tokens::DOUBLE * en_words) / (n_words::DOUBLE * en_tokens), 4)
       | END AS premium
       |FROM base LEFT JOIN en ON en.tokenizer = base.tokenizer
       |ORDER BY 1, 2""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "text_tokenizer_fertility" -> graft.OracleContext.rendered(fertilityOracleSql))
}
