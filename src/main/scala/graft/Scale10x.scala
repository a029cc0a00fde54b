package graft

import org.apache.spark.sql.functions._

/** Dev-only scale harness (NOT part of the library surface, like
  * [[Bench]]/[[Profile]]): synthesizes a ~10× enlarged copy of the
  * `documents`/`embeddings`/`events` tables under /tmp by
  * duplicating each row per copy index k and perturbing it so copies
  * are NOT near-duplicates of each other:
  *
  *  - documents: copy k rotates the alphabet by k (a Caesar map).
  *    A bijective char map preserves the near-dup structure WITHIN a
  *    copy exactly (gram identity is invariant under bijection) while
  *    every char/word gram differs ACROSS copies — corpus density
  *    scales honestly. The first attempt (per-word `k3_` prefixes)
  *    left most CHAR grams identical across copies, which built
  *    10-way near-dup clusters and exploded the LSH candidate count
  *    ~100× — a useful duplication-stress dataset (kept reachable via
  *    the `prefix` perturbation arg) but not a density-preserving
  *    scale-up.
  *  - embeddings: ids shift by a multiple of lcm(50,40,30)=600 so the
  *    probe/centroid/codebook strides keep the same relative density;
  *    copy k cyclically ROTATES the vector's elements by k positions —
  *    the vector analog of the documents' Caesar map: applying the
  *    same permutation to two vectors preserves their dot product
  *    exactly (within-copy geometry identical to the original) while
  *    a copy is angularly far from its source. A scalar rescale would
  *    NOT do this — cosine is scale-invariant, so scaled copies were
  *    cosine-identical to their originals and the corpus did not
  *    densify.
  *  - events: ids and user_ids shift per copy (10× keys, 10× rows);
  *    ts/props unchanged (ts rides as raw ns-longs, which
  *    [[Tables.fixEventTs]] converts on read exactly like the
  *    original TIMESTAMP(NANOS) files).
  *
  *  - `graph` / `graphhub` modes (4th arg) scale orders+lineitem
  *    instead (the co-purchase bipartite graph feeding the graph_*
  *    family) and symlink everything else. `graph` shifts ALL keys
  *    per copy (orderkey/custkey/partkey) → k disjoint copies of the
  *    original bipartite graph: node and edge counts ×k, every degree
  *    unchanged — the honest "corpus grew" scale-up under which a
  *    correctly-capped Σdeg² pipeline must grow LINEARLY. `graphhub`
  *    keeps o_custkey UNSHIFTED → every customer's part-degree grows
  *    ×k (hub stress): uncapped, customer-keyed self-join pair work
  *    grows ×k² (Σdeg² quadratic in the hub degree); the
  *    CnMaxCustDeg cap must prune the hubs and FLATTEN the curve —
  *    the LSH band-cap discipline's graph analog, measured rather
  *    than asserted.
  *
  * Output tables are written as 8 parquet files each — a realistic
  * multi-file table rather than the test corpus's single file.
  *
  * Usage: runMain graft.Scale10x [srcSfDir] [outDir] [copies] [prefix|graph|graphhub]
  */
object Scale10x {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf10x"
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else ""
    val dupStress = mode == "prefix"
    val spark = GraftSession.local(GraftSession.cpus, "graft-scale10x")
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)

    def linkRest(scaled: Seq[String]): Unit =
      Tables.names.filterNot(scaled.contains).foreach { t =>
        val link = java.nio.file.Paths.get(s"$out/$t.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(s"$src/$t.parquet"))
      }

    if (mode == "graph" || mode == "graphhub") {
      // key offsets: next power of 10 above each key domain, the
      // documents discipline — copies never collide
      def off(tbl: String, key: String): Long = {
        val m = spark.read.parquet(s"$src/$tbl.parquet")
          .agg(max(col(key))).first().getLong(0)
        math.pow(10, m.toString.length).toLong
      }
      val ordOff = off("orders", "o_orderkey")
      val custOff = if (mode == "graphhub") 0L else off("orders", "o_custkey")
      val partOff = off("lineitem", "l_partkey")
      val orders = spark.read.parquet(s"$src/orders.parquet")
      (0 until copies).map { k =>
        orders.select(
          (col("o_orderkey") + lit(k * ordOff)).as("o_orderkey"),
          (col("o_custkey") + lit(k * custOff)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }.reduce(_ unionAll _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      (0 until copies).map { k =>
        li.select(
          (col("l_orderkey") + lit(k * ordOff)).as("l_orderkey"),
          (col("l_partkey") + lit(k * partOff)).as("l_partkey"),
          col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      }.reduce(_ unionAll _)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      linkRest(Seq("orders", "lineitem"))
      println(s"wrote ${copies}x $mode graph tables to $out")
      spark.stop()
      return
    }

    val ks = spark.range(copies).select(col("id").as("k"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docOffset = {
      val m = docs.agg(max(col("doc_id"))).first().getLong(0)
      math.pow(10, m.toString.length).toLong
    }
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def perturbed(k: Int) =
      if (dupStress)
        regexp_replace(col("text"), lit("(\\S+)"), lit(s"k${k}_$$1"))
      else translate(col("text"), alpha, alpha.drop(k % 26) + alpha.take(k % 26))
    (0 until copies).map { k =>
      docs.select(
        (col("doc_id") + lit(k.toLong * docOffset)).as("doc_id"),
        perturbed(k).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecOffset = {
      val m = emb.agg(max(col("vec_id"))).first().getLong(0)
      ((m / 600) + 1) * 600 // multiple of lcm(50,40,30): strides keep density
    }
    (0 until copies).map { k =>
      val rot =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, 10000), slice(col("embedding"), 1, k))
      emb.select(
        (col("vec_id") + lit(k.toLong * vecOffset)).as("vec_id"),
        rot.as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    GraftSession.install(spark)
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evOffset = {
      val m = ev.agg(max(col("event_id"))).first().getLong(0)
      math.pow(10, m.toString.length).toLong
    }
    ev.crossJoin(broadcast(ks))
      .select(
        (col("event_id") + col("k") * evOffset).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * 10000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    linkRest(Seq("documents", "embeddings", "events"))
    println(s"wrote ${copies}x tables to $out")
    spark.stop()
  }
}
