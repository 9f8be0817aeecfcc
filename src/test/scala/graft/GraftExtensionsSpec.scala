package graft

/** Pins the SQL surface `GraftExtensions` installs: every `graft_*` name
  * and the expression class its registry entry names.
  */
class GraftExtensionsSpec extends SparkSpec {

  private val expected = Map(
    "graft_dot" -> "DotProduct",
    "graft_cosine" -> "CosineSimilarity",
    "graft_l2sq" -> "LongL2Squared",
    "graft_sorted_inter" -> "SortedInterCount",
    "graft_shingle_codes" -> "ShingleCodes",
    "graft_shingle_strings" -> "ShingleStrings",
    "graft_rolling_fp" -> "RollingFp",
    "graft_trigram_hashes" -> "TrigramMixHashes",
    "graft_repetition" -> "RepetitionStats",
    "graft_word_ngrams" -> "WordNgrams",
    "graft_bottomk" -> "BottomKDistinct",
    "graft_clean_text" -> "CleanText",
    "graft_log_bucket_id" -> "LogBucketId",
    "graft_log_bucket_rep" -> "LogBucketRep",
    "graft_bin_length" -> "BinLength",
    "graft_token_count" -> "TokenCount",
    "graft_text_stats" -> "TextStats",
    "graft_collapse_ws" -> "CollapseWs"
  ).map { case (name, cls) => name -> s"graft.functions.$cls" }

  test("the session registers exactly the 18 graft_ SQL functions, each under its expression class") {
    val names = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSet
    assert(names == expected.keySet)
    val classes = expected.keys.map(n => n -> spark.catalog.getFunction(n).className).toMap
    assert(classes == expected)
  }

  test("registered functions evaluate: literal geometry arguments and the n-gram arity guard") {
    val r = spark.sql("SELECT graft_log_bucket_id(CAST(1000 AS BIGINT), 3)," +
      " graft_trigram_hashes('abcdef', 1) IS NOT NULL," +
      " graft_word_ngrams(array('a', 'b', 'c'), 2)").head()
    assert(!r.isNullAt(0) && r.getBoolean(1))
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    val e = intercept[Exception](spark.sql("SELECT graft_word_ngrams(array('a'))").collect())
    assert(e.getMessage.contains("requires exactly 2 arguments"), e.getMessage)
  }
}
