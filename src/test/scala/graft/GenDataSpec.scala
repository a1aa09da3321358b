package graft

import org.apache.spark.sql.functions._

/** Pins the scale-factor lake generator (the sf1+ scaling-study input):
  * schema compatibility with the driver-generated lake, hash determinism
  * (two runs must be byte-identical — the property that makes a
  * regenerable synthetic lake auditable), and the scaling/shape rules the
  * generator documents.
  */
class GenDataSpec extends SparkSpec {

  test("generated lake: driver-schema compatible, deterministic, in-contract") {
    val d1 = tempDir("graft_gen1").toString
    val d2 = tempDir("graft_gen2").toString
    GenData.write(spark, d1, 0.001)
    GenData.write(spark, d2, 0.001)
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val gen = spark.read.parquet(s"$d1/$t.parquet")
      val drv = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      // driver-schema compatibility: same columns, same types (events.ts
      // nanos-vs-ntz generation drift is exactly what normalizeEventTs
      // absorbs, so compare through the SAME loader the engine uses)
      val genN = if (t == "events") Tables.normalizeEventTs(gen) else gen
      val drvN = if (t == "events") Tables.normalizeEventTs(drv) else drv
      assert(genN.schema.map(f => (f.name, f.dataType)) ==
        drvN.schema.map(f => (f.name, f.dataType)),
        s"$t schema diverges from the driver lake")
      // determinism: run 2 must be row-identical to run 1 (hash of every
      // cell, order-independent)
      val h1 = genN.selectExpr("bit_xor(xxhash64(*)) as h").head.getLong(0)
      val h2 = (if (t == "events")
          Tables.normalizeEventTs(spark.read.parquet(s"$d2/$t.parquet"))
        else spark.read.parquet(s"$d2/$t.parquet"))
        .selectExpr("bit_xor(xxhash64(*)) as h").head.getLong(0)
      assert(h1 == h2, s"$t is not generation-deterministic")
    }
    // contract shape checks at the smallest SF
    assert(spark.read.parquet(s"$d1/lineitem.parquet").count() >= 5000)
    assert(spark.read.parquet(s"$d1/documents.parquet").count() == 500)
    val emb = spark.read.parquet(s"$d1/embeddings.parquet")
      .select(expr("aggregate(embedding, 0d, (a, x) -> a + x * x)").as("n2"))
      .agg(min("n2"), max("n2")).head
    assert(math.abs(emb.getDouble(0) - 1.0) < 1e-5 &&
      math.abs(emb.getDouble(1) - 1.0) < 1e-5,
      "embeddings must be unit-normalized")
  }
}
