package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScaleProbe.offsetCopies

/** sf1 tier generator: scales a driver-generated SF directory N× into a
  * new parquet directory with FK-CONSISTENT key offsets, so the full
  * correctness gate (Verify + DuckDB oracle) and Bench run unmodified
  * at 10× the largest shipped SF — the tier that catches superlinear
  * queries an sf0.1 sweep hides. Run:
  *   sbt 'runMain graft.GenScale /root/testdata/sf0.1 target/sf1 10'
  *
  * Key strides keep every foreign key inside its copied dimension:
  * copy i's orders reference copy i's customers, its lineitems copy
  * i's orders/parts/suppliers. Dims `region`/`nation` are fixed
  * catalogs and copy once (customer/supplier nationkeys stay valid).
  * `documents` text is per-copy token-salted (the ScaleProbe recipe:
  * copies share zero shingles, so near-dup structure grows linearly —
  * output sizes stay ~10×, not 100×); `embeddings` replicate by the
  * ScaleProbe sign-flip diagonal (within-copy geometry preserved,
  * cross-copy cosines decorrelated). Customer names re-derive from the
  * shifted key so name-keyed operators (rl1 record linkage) see unique
  * names, matching the generator's invariant. `events` keep user_id
  * (per-user density grows — the conservative, hot-key direction).
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse(Harness.SfDir)
    val dst = args.lift(1).getOrElse("target/sf1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session(Harness.Cpus)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name written")
    }

    // fixed catalogs: copy once
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(
      offsetCopies(Tables.customer(spark, src), n, "c_custkey" -> 10_000_000L)
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))),
      "customer")
    write(offsetCopies(Tables.supplier(spark, src), n, "s_suppkey" -> 1_000_000L),
      "supplier")
    write(offsetCopies(Tables.part(spark, src), n, "p_partkey" -> 10_000_000L),
      "part")
    write(
      offsetCopies(Tables.orders(spark, src), n,
        "o_orderkey" -> 100_000_000L, "o_custkey" -> 10_000_000L),
      "orders")
    write(
      offsetCopies(Tables.lineitem(spark, src), n,
        "l_orderkey" -> 100_000_000L, "l_partkey" -> 10_000_000L,
        "l_suppkey" -> 1_000_000L),
      "lineitem")
    // events: fresh event_ids, user domain fixed (per-key density grows)
    write(offsetCopies(Tables.events(spark, src), n, "event_id" -> 1_000_000_000L),
      "events")
    // documents: the ScaleProbe salt — every token prefixed per copy, so
    // copies are shingle-disjoint and the true near-dup structure is n×
    write(ScaleProbe.replicated(spark, src, n), "documents")
    // embeddings: the ScaleProbe sign-flip diagonal
    write(ScaleProbe.replicatedEmb(spark, src, n), "embeddings")

    println(s"[genscale] done: $dst at ${n}x of $src")
    spark.stop()
  }
}
