package graft

/** The output schema (column names and types, in order) of every document
  * query — `cur_*`, `text_*` and `mm_*` — pinned as literal strings. The
  * DuckDB compare reads values as strings, so a type drift (an int column
  * that turns bigint, a double that turns decimal) passes it; this catches
  * it.
  */
class DocumentSchemaSpec extends SparkSpec {

  private val expected = Map(
    "cur_chunk" -> "struct<doc_id:bigint,chunk_idx:bigint,n_chunk_tokens:bigint,chunk_text:string>",
    "cur_decontaminate" -> "struct<doc_id:bigint,n_shingles:bigint,n_hits:bigint>",
    "cur_decontaminate_bloom" -> "struct<n_clean:bigint,n_contaminated:bigint,covers_exact:int,hits_superset:int,fp_within_budget:int>",
    "cur_e2e" -> "struct<doc_id:bigint,split:string>",
    "cur_len_quantiles" -> "struct<lang:string,n_docs:bigint,len_min:bigint,len_p25:double,len_p50:double,len_p75:double,len_max:bigint>",
    "cur_len_quantiles_approx" -> "struct<lang:string,q:double,n_docs:bigint,exact_val:double,rank_ok:int>",
    "cur_mix" -> "struct<doc_id:bigint,source:string,rank:bigint,mix_key:bigint>",
    "cur_pack_shards" -> "struct<doc_id:bigint,source:string,n_tokens:bigint,shard_idx:bigint>",
    "cur_pack_shards_salted" -> "struct<doc_id:bigint,source:string,n_tokens:bigint,shard_idx:bigint>",
    "cur_quality_gate" -> "struct<doc_id:bigint,n_tokens:int,ok_len:int,ok_word_len:int,ok_stop:int,ok_punct:int,ok_distinct:int,keep:int>",
    "cur_repetition" -> "struct<doc_id:bigint,n_grams:bigint,n_distinct:bigint,is_repetitive:int>",
    "cur_sample_stratified" -> "struct<doc_id:bigint,lang:string,bucket:bigint>",
    "cur_split" -> "struct<doc_id:bigint,bucket:bigint,split:string>",
    "mm_audio_real" -> "struct<media_id:bigint,n_samples:int,sum_s:bigint,min_s:int,max_s:int,s0:int,s_last:int,n_zero_cross:int>",
    "mm_decode_real" -> "struct<media_id:bigint,width:int,height:int,n_pixels:int,mean_px:double,hist0:int,hist1:int,hist2:int,hist3:int,px00:int,px_last:int>",
    "mm_embed" -> "struct<media_id:bigint,d:int,fp:bigint>",
    "mm_features" -> "struct<media_id:bigint,kind:string,n_bytes:int,mean_byte:double,hist0:int,hist1:int,hist2:int,hist3:int>",
    "mm_frames" -> "struct<media_id:bigint,frame_idx:int,n_bytes:int>",
    "mm_resize" -> "struct<media_id:bigint,n_bytes:int,width:int,height:int>",
    "text_fingerprint" -> "struct<doc_id:bigint,fp:string>",
    "text_langid" -> "struct<doc_id:bigint,n_en:int,n_de:int,n_fr:int,n_es:int,lang_pred:string>",
    "text_pii_scrub" -> "struct<doc_id:bigint,n_emails:int,n_ipv4:int,n_phones:int,clean_text:string>",
    "text_quality" -> "struct<doc_id:bigint,n_tokens:int,n_stop:int,n_long_tokens:int,n_punct:int,n_upper:int>",
    "text_tfidf" -> "struct<doc_id:bigint,token:string,tf:bigint,df:bigint,rank:int>",
    "text_tokens" -> "struct<doc_id:bigint,n_tokens:int,n_distinct:int,n_chars_m:bigint>",
    "text_vocab" -> "struct<token:string,n:bigint,rank:int>")

  test("every document query keeps its output column names and types") {
    val actual = SparkEntry.queries.collect {
      case (name, query) if Seq("cur_", "text_", "mm_").exists(name.startsWith) =>
        name -> query(spark, "/root/testdata/sf0.001").schema.catalogString
    }
    val shown = actual.toSeq.sorted
      .map { case (n, s) => s"""    "$n" -> "$s",""" }.mkString("\n")
    assert(actual.size == 26, shown)
    assert(actual == expected, s"actual schemas:\n$shown")
  }
}
