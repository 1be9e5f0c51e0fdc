package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PartitionEstimate

import graft.SparkSpec

/** The scan-partition estimate counts only the files a partitioned
  * scan keeps after the partition predicates of the Filters above it,
  * as physical planning does; an unpruned listing overestimated every
  * filtered read. */
class PartitionEstimateSpec extends SparkSpec {

  test("a pruned partitioned scan is estimated from its surviving partitions only") {
    val dir = tmpDir("graft-pest")
    // 20 partitions, one file each
    spark.range(2000).withColumn("p", col("id") % 20).coalesce(1)
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val all = spark.read.parquet(dir)
    val whole = PartitionEstimate.leafScanPartitions(all).get
    val onePart = PartitionEstimate.leafScanPartitions(spark.read.parquet(s"$dir/p=3")).get
    assert(onePart < whole, s"one partition $onePart vs all $whole")
    val pruned = all.filter(col("p") === 3 && col("id") > 0)
    assert(PartitionEstimate.leafScanPartitions(pruned).contains(onePart))
    val projected = all.select(col("id"), col("p")).filter(col("p") === 3)
    assert(PartitionEstimate.leafScanPartitions(projected).contains(onePart))
    // a data-column predicate prunes no partition
    assert(PartitionEstimate.leafScanPartitions(all.filter(col("id") === 3)).contains(whole))
  }
}
