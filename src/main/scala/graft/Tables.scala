package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated testdata
  * (TESTDATA.md / FIXTURES.md). All operators read through here so a
  * future source swap (e.g. the DSv2 stream source in graft.sources)
  * is a one-line change.
  */
object Tables {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame  = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame    = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame  = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = t(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame    = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame    = t(s, dir, "region")
  /** events.ts has shipped as three physical parquet types across
    * generator versions (FIXTURES.md): TIMESTAMP(NANOS) (loaded as long
    * via the legacy conf), TIMESTAMP(MICROS) without tz (TIMESTAMP_NTZ
    * in Spark 4), and plain TIMESTAMP. Adapt on the loaded dtype so all
    * three normalize to TimestampType. INVARIANT: the NTZ→timestamp
    * cast (and timestamp_micros on the nanos path) is a pure
    * reinterpretation ONLY under a UTC session time zone — any other
    * zone silently shifts event instants and breaks oracle parity
    * with DuckDB's naive-timestamp semantics — so the zone is pinned
    * here, not trusted to the entrypoint (this function already
    * mutates session conf for nanosAsLong; pinning the TZ beside it
    * keeps the invariant with the code that relies on it).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other — update Tables.events/FIXTURES.md")
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** Fingerprint of the dataset under `dir`: the path relative to
    * `dir`, length and modification time of every file, in name order.
    * Rewriting any table changes it. The walk is a recursive
    * `listStatus` reading only those three fields: `listFiles` returns
    * located statuses whose permissions the local file system loads by
    * forking `ls` once per file.
    */
  def fingerprint(s: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path, rel: String, h0: Long): Long =
      fs.listStatus(p).sortBy(_.getPath.getName).foldLeft(h0) { (h, st) =>
        val name = rel + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, name + "/", h)
        else ((h * 31 + name.hashCode) * 31 + st.getLen) * 31 + st.getModificationTime
      }
    walk(root, "", 1125899906842597L)
  }
}
