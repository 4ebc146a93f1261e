package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Proves the SCALING.md claim that pre-bucketed tables make the
  * fact/dim join shuffle-free: both sides bucketed on the join key →
  * the physical plan contains no Exchange.
  */
class BucketingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("partitionBy layout prunes partitions at scan time") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("part").toString
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source", "n_chars")
    docs.write.mode("overwrite").partitionBy("source").parquet(dir)

    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    assert(sources.length > 1, "need several partitions for the proof")
    val one = sources.sorted.head
    val q = spark.read.parquet(dir).filter(col("source") === one)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // the predicate must land in PartitionFilters (directory pruning),
    // not in the data filters — only one partition's files get read
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("source"), s"source predicate not pruned:\n$scan")
    assert(q.count() === docs.filter(col("source") === one).count())
  }

  test("co-bucketed join plans without a shuffle") {
    val sf = "/root/testdata/sf0.001"
    val orders = graft.Tables.load(spark, sf, "orders")
    val customer = graft.Tables.load(spark, sf, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")

    // disable broadcast so the join must pick sort-merge — the case
    // bucketing exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          spark.table("b_orders")("o_custkey") === spark.table("b_customer")("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      // and it still returns the right rows
      val n = joined.count()
      val expected = orders.join(customer,
        orders("o_custkey") === customer("c_custkey")).count()
      assert(n === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("bucketed author bridge joins without a shuffle and matches the broadcast bridge") {
    import graft.etl.StarSchema
    // a clean-shaped corpus with natural-key duplicates across docs
    val clean = spark.sql(
      """SELECT * FROM VALUES
        |  ('d1', array(named_struct('author','Ann A','country','France','location','x','university','Uni X'),
        |               named_struct('author','Bob B','country','Spain','location','y','university','Uni Y'))),
        |  ('d2', array(named_struct('author','Ann A','country','France','location','x','university','Uni X'))),
        |  ('d3', array(named_struct('author','Cara C','country','USA','location','z','university','Uni Z'),
        |               named_struct('author','Ann A','country','France','location','x','university','Uni X')))
        |AS t(doi, authors_with_affiliations)""".stripMargin)
    val dim = StarSchema.authors(clean)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // layout once, join twice off the same tables (the production split)
      StarSchema.writeBucketedAuthorTables(clean, dim, buckets = 8,
        "graft_bucketed_author_pairs", "graft_bucketed_authors")
      val joined = StarSchema.authorBridgeBucketedJoin(spark,
        "graft_bucketed_author_pairs", "graft_bucketed_authors")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected shuffle in bucketed bridge join:\n$plan")
      // same bridge rows as the broadcast-dim implementation
      val bucketed = joined.select("DOI", "AuthorID").distinct()
      val broadcastBridge = StarSchema.authorBridge(clean, dim)
      assert(bucketed.exceptAll(broadcastBridge).count() === 0L)
      assert(broadcastBridge.exceptAll(bucketed).count() === 0L)
      assert(bucketed.count() === 5L) // Ann A on d1/d2/d3, Bob B on d1, Cara C on d3
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_author_pairs")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_authors")
    }
  }
}
