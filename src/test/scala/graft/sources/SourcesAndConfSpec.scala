package graft.sources

import graft.{SparkEntry, SparkSpec}

/** Library-API tests: PairFiles round-trips (incl. the adversarial
  * bytes hex exists for) and c3's top-k parameter actually rescoping
  * the operator.
  */
class SourcesAndConfSpec extends SparkSpec {

  test("PairFiles.text round-trips tab-free pairs") {
    import spark.implicits._
    val df = Seq(("k1", "v one"), ("k2", "v two")).toDF("key", "value")
    val path = "/root/repo/target/qtmp/test_text"
    PairFiles.writeText(df, path)
    val back = PairFiles.readText(spark, path)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("k1" -> "v one", "k2" -> "v two"))
  }

  test("PairFiles.hex round-trips values containing tabs and newlines") {
    import spark.implicits._
    val df = Seq(("k1", "a\tb"), ("k2", "l1\nl2"), ("k3", "plain"))
      .toDF("key", "value")
    val path = "/root/repo/target/qtmp/test_hex"
    PairFiles.writeHex(df, path)
    val back = PairFiles.readHex(spark, path)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("k1" -> "a\tb", "k2" -> "l1\nl2", "k3" -> "plain"))
  }

  test("PairFiles.bin round-trips an array<float> column losslessly") {
    val path = "/root/repo/target/qtmp/test_bin"
    val src = spark.read.parquet(s"$sf0001/embeddings.parquet")
    PairFiles.writeBin(src, path)
    val back = PairFiles.readBin(spark, path)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
  }

  test("c3's k parameter rescopes its top-k") {
    val df = graft.operators.TierC.c3(spark, sf0001, k = 2)
    val maxRank = df.agg(org.apache.spark.sql.functions.max("rank"))
      .head().getLong(0)
    assert(maxRank == 2L)
  }

  test("c3's declared query ranks its top 5") {
    val df = SparkEntry.queries("c3_similarity_topk")(spark, sf0001)
    assert(df.agg(org.apache.spark.sql.functions.max("rank"))
      .head().getLong(0) == 5L)
  }
}
