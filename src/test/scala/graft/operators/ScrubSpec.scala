package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase, Tables}

/** Invariants of the scrubbing operators beyond the hash oracle. */
class ScrubSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q99 clean set and contaminated set partition the train split") {
    val clean = SparkEntry.queries("q99_decontam_clean")(spark, sf)
    val withSplit = TextDedup.docShingles(spark, sf)
      .withColumn("bk", graft.plans.HexWindowToLong.hexWindow(
        md5(encode($"doc_id".cast("string"), "UTF-8")), 1) % 100)
    val train = withSplit.filter($"bk" < 80)
      .select($"doc_id", size($"sh").as("n_shingles"), $"sh")
    val testVocab = withSplit.filter($"bk" >= 90)
      .select(explode($"sh").as("tok")).distinct()
    val nBad = Scrub.contaminatedIds(train, testVocab).count()
    assert(clean.count() + nBad == train.count())
  }

  test("q101 preserves duplicates and order of non-stopwords") {
    val out = SparkEntry.queries("q101_stopword_scrub")(spark, sf)
    // reconstruct one doc by hand and compare the md5
    val stop = graft.Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t").limit(20)
      .select("t").as[String].collect().toSet
    // pick a doc that keeps at least one word (fully-scrubbed docs hash NULL)
    val doc = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].head(10)
      .find(d => d._2.split(" ", -1).exists(w => !stop(w))).get
    val kept = doc._2.split(" ", -1).filterNot(stop).mkString(" ")
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = out.filter($"doc_id" === doc._1)
      .select("kept_md5").as[String].head()
    assert(got == expected)
  }

  test("q100 masks every digit run (no digit survives)") {
    val out = SparkEntry.queries("q100_scrub_digits")(spark, sf)
    assert(out.filter($"scrubbed".rlike("[0-9]")).count() == 0)
    // masked rows must still record how many runs were masked
    assert(out.filter($"n_digit_runs" > 0).count() > 0)
  }

  test("q133 span scrub covers every doc, cuts real spans, never over-cuts") {
    val out = SparkEntry.queries("q133_span_scrub")(spark, sf).cache()
    // pass-through docs survive the left join
    assert(out.count() == Tables(spark, sf, "documents").count())
    assert(out.filter($"n_removed" < 0 || $"n_removed" > $"n_tokens")
      .count() == 0)
    // the hash is NULL exactly when everything was cut
    assert(out.filter($"n_removed" === $"n_tokens" && $"kept_md5".isNotNull)
      .count() == 0)
    assert(out.filter($"n_removed" < $"n_tokens" && $"kept_md5".isNull)
      .count() == 0)
    // the threshold must bite on this corpus (its near-dup docs share
    // boilerplate spans) without scrubbing everything
    val cut = out.filter($"n_removed" > 0).count()
    assert(cut > 0, "no spans cut - threshold dead")
    assert(cut < out.count(), "every doc cut - threshold degenerate")
    // a doc sharing no hot 3-gram keeps all tokens: recompute one
    // untouched doc's hash from the raw text
    import org.apache.spark.sql.Row
    val id = out.filter($"n_removed" === 0).select("doc_id")
      .orderBy("doc_id").head() match { case Row(i: Long) => i }
    val txt = Tables(spark, sf, "documents")
      .filter($"doc_id" === id).select("text").as[String].head()
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(txt.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.filter($"doc_id" === id).select("kept_md5").as[String]
      .head() == expected)
    out.unpersist()
  }

  test("q152 finds exactly the planted PII, source by source") {
    val out = SparkEntry.queries("q152_pii_audit")(spark, sf).cache()
    // the raw corpus carries no natural PII, so every hit is planted by
    // the md5 gate: gate 0 -> email, 1 -> phone, 2 -> url
    val gate = graft.plans.HexWindowToLong.md5Bucket($"doc_id", 10)
    val planted = Tables(spark, sf, "documents")
      .select($"source", gate.as("g"))
      .groupBy("source")
      .agg(
        sum(when($"g" === 0, 1L).otherwise(0L)).as("e"),
        sum(when($"g" === 1, 1L).otherwise(0L)).as("p"),
        sum(when($"g" === 2, 1L).otherwise(0L)).as("u"))
    val bad = out.join(planted, "source")
      .filter($"n_emails" =!= $"e" || $"n_phones" =!= $"p" ||
        $"n_urls" =!= $"u" ||
        $"n_pii_docs" =!= $"e" + $"p" + $"u")
      .count()
    assert(bad == 0, "audit counts must equal the planted-PII counts")
    out.unpersist()
  }
}
