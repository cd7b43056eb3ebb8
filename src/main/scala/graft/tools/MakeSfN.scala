package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Derive an sfN-scale fixture from the driver's sf0.1 parquet by N×
  * KEY-STRIDED replication: replica i shifts every key column by
  * i·stride (strides are powers of ten above the key range), so the
  * copies are disjoint in key space and every FK join
  * (lineitem↔orders↔customer, lineitem↔part/supplier) lands inside its
  * own replica — N disjoint sub-databases, the shape an N× TPC-H load
  * has. region/nation stay fixed (they are fixed-size at every TPC-H
  * sf). Built for the r14 second-scaling-data-point ask (VERDICT r13
  * item 1): sf0.1 → sf1 → sf5 turns ONE scaling ratio into a
  * trajectory — a family that is linear shows ~5× sf1→sf5; a
  * creeping-superlinear one (s03's output-bound 8.5×, t02) shows its
  * curve.
  *
  * Usage: runMain graft.tools.MakeSfN <replicas> <dstDir>
  *   e.g.  runMain graft.tools.MakeSfN 10 target/sf1
  *         runMain graft.tools.MakeSfN 50 target/sf5
  *
  * Content columns are byte-identical replicas of sf0.1, so the
  * fixture is valid for PLAN-SHAPE and SCALING measurement and for
  * oracle checks (DuckDB reads the same derived parquet);
  * content-duplicate-sensitive families (dedup d*) are excluded from
  * scale captures — their pair structure would be the replication
  * artifact, not data.
  */
object MakeSfN {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: MakeSfN <replicas> <dstDir>")
    val replicas = args(0).toInt
    val dst = args(1)
    val spark = ProbeSession()
    val src = "/root/testdata/sf0.1"

    // key → stride; every stride clears its key's sf0.1 range by ≥ 10×.
    // doc/vec strides are 10M, NOT 1M: several queries inject derived
    // ids in-query (m06 copies at doc_id+999999, d09 passages at
    // doc_id+1000000), and a 1M stride made those collide with
    // replica-1's id space — duplicate doc_ids with DIFFERENT content,
    // whose pair identity is ambiguous (the m06 rowcount divergence
    // that exposed this). 10M keeps every in-query injection inside
    // its replica's id space.
    val strides: Map[String, Long] = Map(
      "o_orderkey" -> 10000000L, "l_orderkey" -> 10000000L,
      "o_custkey" -> 1000000L, "c_custkey" -> 1000000L,
      "l_partkey" -> 1000000L, "p_partkey" -> 1000000L,
      "l_suppkey" -> 100000L, "s_suppkey" -> 100000L,
      "event_id" -> 10000000L, "user_id" -> 10000000L,
      "doc_id" -> 10000000L, "vec_id" -> 10000000L)

    def replicate(name: String, filesPerSf1: Int): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val keyCols = base.columns.filter(strides.contains)
      val maxes = if (keyCols.nonEmpty)
        base.select(keyCols.map(c => max(col(c)).as(c)).toSeq: _*).head() else null
      keyCols.zipWithIndex.foreach { case (c, i) =>
        require(maxes.getLong(i) < strides(c),
          s"$name.$c max ${maxes.getLong(i)} >= stride ${strides(c)}")
      }
      // build the replica union WITHOUT `replicas` plan branches: a
      // 50-way unionByName of withColumn chains is a wide plan that
      // analyzes slowly — instead cross-join the base with a replica
      // index and shift keys by idx·stride in one projection
      val idx = spark.range(0, replicas.toLong).select(col("id").as("__rep"))
      val shifted = keyCols.foldLeft(base.crossJoin(idx)) { (df, c) =>
        df.withColumn(c, col(c) + col("__rep") * lit(strides(c)))
      }.drop("__rep")
      val files = math.max(1, filesPerSf1 * replicas / 10)
      shifted.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"SFN $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows, $files files")
    }

    Seq(("lineitem", 16), ("orders", 8), ("customer", 4), ("supplier", 1),
      ("part", 2), ("events", 8), ("documents", 4), ("embeddings", 2))
      .foreach { case (n, f) => replicate(n, f) }
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"SFN $n: copied")
    }
    spark.stop()
  }
}
