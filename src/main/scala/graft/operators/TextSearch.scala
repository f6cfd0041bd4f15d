package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Lexical relevance scoring over the document corpus: Okapi BM25
  * (Robertson & Walker, TREC-3) — the standard keyword-retrieval score
  * and the usual "find training docs about X" tool in data curation.
  *
  * Scale shape: the only corpus-sized work is one tokenize+explode pass
  * that is FILTERED TO THE QUERY TERMS map-side before any exchange —
  * the (doc, term, tf) shuffle carries a handful of rows per matching
  * doc, never the corpus vocabulary. Corpus stats (N, avgdl) are a
  * one-row aggregate cross-joined back as a broadcast; per-term document
  * frequencies are a |query|-row broadcast. Nothing driver-side.
  */
object TextSearch {

  /** Per-document BM25 scores for `queryTerms` (docs sharing no term are
    * absent). Output: (idCol, score).
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct
    // tokenized docs feed both the corpus stats and the tf pass — one
    // persisted tokenization
    val docToks = Par.widen(docs)
      .select(col(idCol), Text.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"), size(col("toks")).as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus stats collected as driver scalars in the SAME action that
    // materializes the tokenization cache (r18): the old
    // crossJoin(broadcast(stats)) form ran this aggregate and the tf
    // pass as concurrent AQE stages over the unmaterialized persist
    // and tokenized the corpus twice. count and avg are exact; folding
    // them in as literals is value-identical to the broadcast columns.
    val st = Par.labeled(docs.sparkSession, "bm25: corpus stats")(
      docToks.agg(count(lit(1)).as("n_docs"), avg("len").as("avgdl")).head())
    // no tokenized doc (an empty corpus, or only null texts) leaves avgdl
    // null, and no doc can score: the result is empty
    if (st.isNullAt(1)) {
      docToks.unpersist(false)
      return docs.select(col(idCol), lit(0.0).as("score")).limit(0)
    }
    val nDocs = st.getLong(0)
    val avgdl = st.getDouble(1)
    // per-term tf computed MAP-SIDE from the token array (queryTerms is
    // a literal handful, so |terms| array scans per doc): no explode of
    // the corpus and no (doc, term) aggregate exchange — the r17
    // explode+filter+groupBy form shuffled the matching postings AND
    // recomputed that subtree twice, once under the dfreq broadcast
    // build and once as the probe side (guide §2.4).
    val tfCols = terms.map(t => struct(lit(t).as("term"),
      size(filter(col("toks"), x => x === lit(t))).as("tf")))
    val tf = docToks
      .select(col(idCol), col("len"), explode(array(tfCols: _*)).as("__tt"))
      .select(col(idCol), col("len"), col("__tt.term").as("term"), col("__tt.tf").as("tf"))
      .filter(col("tf") > 0) // docs sharing no term are absent, as before
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df")) // one row per (doc, term) above
    tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("idf", log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg(sum("w").as("score"))
  }

  /** Per-doc unigram cross-entropy against the corpus's own token
    * distribution: mean over the doc's token occurrences of
    * −ln(count(token)/total) — the cheap KenLM-style fluency/outlier
    * signal of quality filtering (high = the doc is made of rare
    * tokens relative to the corpus). Every token occurrence counts (no
    * dedup), matching the LM view of the text.
    *
    * Scale shape: the unigram table is a groupBy over the exploded
    * corpus — one narrow shuffle of (token-hash, count)-sized rows; the
    * scoring join is an equi-join on the token that AQE broadcasts
    * while the vocabulary fits. Output: (idCol, n_tokens, logppl).
    */
  def unigramLogPerplexity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Par.widen(docs)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // freq build + scoring
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("total"))
    toks.join(freq, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log(col("cnt") / col("total"))).as("logppl"))
  }

  /** Corpus-level n-gram occurrence counts, top `topK` by (count desc,
    * n-gram asc) — the frequency table behind contamination probes and
    * boilerplate discovery. One explode + one narrow groupBy; the sort
    * runs on the aggregated table (vocabulary-sized, not corpus-sized).
    */
  def ngramCounts(docs: DataFrame, textCol: String, n: Int, topK: Int): DataFrame =
    Par.widen(docs)
      .select(explode(Text.shingles(Text.tokens(col(textCol)), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(topK)

  /** Top-k keywords per document by TF-IDF:
    * tf/len · ln(N/df), ties broken by term asc. The classic
    * keyword-extraction / doc-representation score (Salton & Buckley
    * 1988) — the per-doc counterpart of the corpus-level ngramCounts.
    *
    * Scale shape: one tokenize+explode pass feeds a (doc, term)
    * groupBy; document frequencies are a second vocabulary-sized
    * groupBy joined back on the term key (AQE broadcasts it while the
    * vocabulary fits, shuffled equi-join beyond that); the corpus size
    * is a one-row broadcast. The final top-k window partitions by doc
    * — per-doc vocabulary is bounded, so no skew cliff.
    * Output: (idCol, rnk, term, tfidf).
    */
  def tfidfTopKeywords(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // tf feeds both the df build and the scoring join: persist so the
    // corpus is tokenized once, not re-exploded per consumer
    val tf = Par.widen(docs)
      .select(col(idCol), Text.tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).as("len"), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") / col("len").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"), col("tfidf"))
  }
}
