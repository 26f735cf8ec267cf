package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.Pipeline
import graft.config.GraftConfig
import graft.operators.{Filters, Scan, Transforms}
import graft.queries.Catalog
import graft.sinks.Sinks
import graft.sources.Tables
import graft.streaming.Incremental
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What one op delivered, and for a traced op its per-layer metrics. */
final case class OpResult(rows: Long, layers: Map[String, Double] = Map.empty)

/** A closed-loop workload: `op` is one untraced operation, `tracedOp` the
  * same operation with its layers split by the [[Tracer]]. `outputs` runs
  * after the timed phase and names what the checker reads. */
trait Workload {
  def op(): OpResult
  def tracedOp(t: Tracer): OpResult
  def outputs(): Map[String, Any]
}

/** The extraction job as the program's users configure it: properties text
  * for the global and per-table config plus the reference-shaped spec JSON,
  * resolved through [[GraftConfig]] on every op. */
object ExtractConfig {
  val Table = "events"

  def globalProperties: String =
    """enable_kafka = true
      |enable_s3 = true
      |enable_rds = true
      |enable_json = true
      |kafka_topics = events,audit
      |kafka_message_key = %(event_id)s
      |s3_object_key = events-%(kind)s-%(event_id)s
      |rds_insert_template = INSERT INTO events_copy (event_id, doc) VALUES (%(event_id)s, '%(json)s')
      |""".stripMargin

  def tableProperties(watermarkMillis: Long): String =
    s"""cassandra_columns = event_id,ts,user_id,event_type,value,props,modified_timestamp
       |cassandra_filter = event_type:(click OR purchase OR signup)
       |cassandra_modified_timestamp_filter = $watermarkMillis
       |""".stripMargin

  val SpecJson: String =
    """{"columns": [
      |  {"name": "event_type", "renameTo": "kind"},
      |  {"name": "props", "convertTo": "object", "schema": "k INT, tag STRING"},
      |  {"name": "modified_timestamp", "convertTo": "timestamp"},
      |  {"name": "cents", "convertTo": "template:int(row['value'] * 100)"},
      |  {"name": "value", "remove": true},
      |  {"name": "ts", "remove": true}
      |]}""".stripMargin

  /** Kafka message body; the key comes from `kafka_message_key`. */
  val KafkaValue = "{[DQ]id[DQ]:%(event_id)s,[DQ]kind[DQ]:[DQ]%(kind)s[DQ],[DQ]cents[DQ]:%(cents)s}"

  def resolve(watermarkMillis: Long): GraftConfig =
    GraftConfig.loadTable(Table, GraftConfig.loadGlobal(globalProperties),
      tableProperties(watermarkMillis), specJson = Some(SpecJson))
}

/** Materializes a layer's output for the traced split: a `noop` write runs
  * one job per write, as a sink write does, with no shuffle and no output,
  * and counts the rows through an observation. (An aggregate here would add
  * a shuffle and AQE jobs the measured op does not have, and the split
  * would come out negative.) */
object Materialize {
  def apply(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode(SaveMode.Overwrite).save()
    obs.get("rows").asInstanceOf[Long]
  }
}

/** Full-table extraction: GraftConfig -> Pipeline.extract (projection, Solr
  * filter, spec directives, watermark) with the observed counter bundle ->
  * Pipeline.renderSinks -> all four sinks written to local files. */
final class ExtractBulk(spark: SparkSession, data: String, work: Path,
    watermarkMillis: Long) extends Workload {
  private val out = work.resolve("sinks")

  private def frame(cfg: GraftConfig, obs: Option[Observation]): DataFrame = {
    val p = cfg.toPipelineConfig.copy(watermarkCol = Some("modified_timestamp"))
    val df = Pipeline.extract(spark, data, p)
    obs.map(o => Pipeline.withMetrics(df, o, p.watermarkCol, p.watermarkMillis))
      .getOrElse(df)
  }

  private def write(cfg: GraftConfig, df: DataFrame): Unit = {
    val s = cfg.sinks
    val rendered = Pipeline.renderSinks(df,
      kafka = Some((ExtractConfig.KafkaValue, s.kafkaMessageKey.get, s.kafkaTopics)),
      s3 = Some((s.s3ObjectKey, None)),
      rds = s.rdsInsertTemplate,
      jsonLines = cfg.enableJson)
    rendered("kafka").select(concat_ws("\t", col("topic"), col("key"), col("value")))
      .write.mode(SaveMode.Overwrite).text(out.resolve("kafka").toString)
    Sinks.writeS3Shaped(rendered("s3"), out.resolve("s3").toString)
    rendered("rds").write.mode(SaveMode.Overwrite).text(out.resolve("rds").toString)
    rendered("json").write.mode(SaveMode.Overwrite).text(out.resolve("json").toString)
  }

  def op(): OpResult = {
    val cfg = ExtractConfig.resolve(watermarkMillis)
    val obs = Observation("extract_bulk")
    write(cfg, frame(cfg, Some(obs)))
    OpResult(obs.get("records_processed").asInstanceOf[Long])
  }

  def tracedOp(t: Tracer): OpResult = {
    val cfg = ExtractConfig.resolve(watermarkMillis)
    val (_, scan) = t.span("sources.scan") {
      Materialize(Scan.projectColumns(Tables.table(spark, data, ExtractConfig.Table),
        cfg.columns))
    }
    val (rowsOut, extract) = t.span("operators.extract")(Materialize(frame(cfg, None)))
    val (result, full) = t.span("op.full")(op())
    val files = Files.walk(out).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    OpResult(result.rows, Layers.common(full, result.rows) ++ Map(
      "sources.scan_s" -> scan.seconds,
      "operators.transform_s" -> (extract.seconds - scan.seconds),
      "operators.rows_out" -> rowsOut.toDouble,
      "sinks.write_s" -> (full.seconds - extract.seconds),
      "sinks.records_written" -> full.counters.recordsWritten.toDouble,
      "sinks.bytes_written" -> files.map(Files.size).sum.toDouble,
      "sinks.files_written" -> files.size.toDouble))
  }

  def outputs(): Map[String, Any] = Map("sinks" -> out.toString)
}

/** Incremental windows: each op is one `Incremental.incrementalRunCommitted`
  * window over the whole table's scan, then the spec's transforms, then a
  * two-phase ManifestSink write into the window's own directory; the
  * watermark commits after the write returns. */
final class ExtractDelta(spark: SparkSession, data: String, work: Path,
    firstLowerMillis: Long, windowMillis: Long) extends Workload {
  private val storeDir = work.resolve("watermarks")
  private val windowsDir = work.resolve("windows")
  private val store = new Incremental.WatermarkStore(storeDir.toString)
  private val cfg = ExtractConfig.resolve(Long.MaxValue)
  private var windows = 0
  store.save(ExtractConfig.Table, firstLowerMillis)

  private def base: DataFrame =
    Scan.projectColumns(Tables.table(spark, data, ExtractConfig.Table), cfg.columns)
  private val tsMillis = unix_millis(col("ts"))

  private def transform(frame: DataFrame): DataFrame =
    Sinks.prepareJsonLines(Transforms.applySpec(Filters.solr(frame, cfg.filter.get), cfg.spec))

  private def nextUpper(): Long = store.load(ExtractConfig.Table).get + windowMillis

  private def windowPath(): String = {
    windows += 1
    windowsDir.resolve(f"w$windows%05d").toString
  }

  private def writeManifest(df: DataFrame, path: String): Unit =
    df.write.format("graft.sources.v2.ManifestSink").option("path", path)
      .mode("overwrite").save()

  private def manifestRows(path: String): Long =
    Files.readAllLines(Paths.get(path, "_MANIFEST.tsv")).asScala
      .filter(_.nonEmpty).map(_.split("\t")(1).toLong).sum

  def op(): OpResult = {
    val path = windowPath()
    Incremental.incrementalRunCommitted(base, tsMillis, store, ExtractConfig.Table,
      nextUpper())(frame => writeManifest(transform(frame), path))
    OpResult(manifestRows(path))
  }

  def tracedOp(t: Tracer): OpResult = {
    val upper = nextUpper()
    def window = Incremental.incrementalRun(base, tsMillis, store, ExtractConfig.Table, upper)
    val (_, scan) = t.span("sources.scan")(Materialize(window.frame))
    val (rowsOut, extract) = t.span("operators.extract")(Materialize(transform(window.frame)))
    // the same steps as `op`, with the commit in a span of its own
    val path = windowPath()
    val (commit, full) = t.span("op.full") {
      val batch = window
      writeManifest(transform(batch.frame), path)
      t.span("streaming.commit")(batch.commit())._2
    }
    val rows = manifestRows(path)
    val files = Files.list(Paths.get(path)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    OpResult(rows, Layers.common(full, rows) ++ Map(
      "sources.scan_s" -> scan.seconds,
      "operators.transform_s" -> (extract.seconds - scan.seconds),
      "operators.rows_out" -> rowsOut.toDouble,
      "sinks.write_s" -> (full.seconds - commit.seconds - extract.seconds),
      "sinks.records_written" -> rows.toDouble,
      "sinks.bytes_written" -> files.map(Files.size).sum.toDouble,
      "sinks.files_written" -> files.size.toDouble,
      "streaming.commit_s" -> commit.seconds))
  }

  def outputs(): Map[String, Any] = Map(
    "windows" -> windowsDir.toString,
    "first_lower" -> firstLowerMillis,
    "window_ms" -> windowMillis,
    "final_watermark" -> store.load(ExtractConfig.Table).get)
}

/** Passes over a fixed list of catalog queries; one op is one pass, each
  * query's rows collected to the driver. Caches a query leaves behind are
  * released after it, as the catalog's own bench harness does. */
final class CurateMix(spark: SparkSession, data: String, work: Path,
    queries: Seq[String]) extends Workload {
  private var last: Map[String, (Array[Row], org.apache.spark.sql.types.StructType)] = Map.empty
  private var digests: Map[String, Int] = Map.empty

  private def runQuery(q: String): Array[Row] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Catalog.queries(q)(spark, data)
    val rows = df.collect()
    last += q -> (rows, df.schema)
    spark.sparkContext.getPersistentRDDs.filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = false))
    graft.functions.Caches.sweepOperatorCaches()
    rows
  }

  /** Every pass must return the same multiset of rows per query. */
  private def remember(q: String, rows: Array[Row]): Unit = {
    val d = rows.map(_.hashCode).sorted.toSeq.hashCode
    digests.get(q).foreach(prev =>
      require(prev == d, s"$q returned different rows on a repeated pass"))
    digests += q -> d
  }

  def op(): OpResult = OpResult(queries.map { q =>
    val rows = runQuery(q); remember(q, rows); rows.length.toLong
  }.sum)

  def tracedOp(t: Tracer): OpResult = {
    val (perQuery, full) = t.span("op.full") {
      queries.map { q =>
        val (rows, s) = t.span(s"queries.$q")(runQuery(q))
        remember(q, rows)
        (q, rows.length.toLong, s)
      }
    }
    val rows = perQuery.map(_._2).sum
    OpResult(rows, Layers.common(full, rows) ++
      perQuery.flatMap { case (q, _, s) => Seq(
        s"queries.$q.op_s" -> s.seconds,
        s"queries.$q.jobs" -> s.counters.jobs.toDouble) })
  }

  def outputs(): Map[String, Any] = {
    val dir = work.resolve("queries")
    last.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dir.resolve(q).toString)
    }
    val oracle = queries.map(q => q -> Catalog.oracleSql(q)).toMap.asJava
    Files.writeString(dir.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle))
    Map("queries" -> dir.toString)
  }
}

object Layers {
  /** Per-layer metrics every workload reports from its full op's span. */
  def common(full: Span, rowsDelivered: Long): Map[String, Double] = {
    val c = full.counters
    Map(
      "sources.records_read" -> c.recordsRead.toDouble,
      "sources.bytes_read" -> c.bytesRead.toDouble,
      "sources.read_amplification" -> c.recordsRead.toDouble / math.max(1L, rowsDelivered),
      "pipeline.plan_s" -> c.planMs / 1e3,
      "pipeline.jobs" -> c.jobs.toDouble,
      "pipeline.tasks" -> c.tasks.toDouble,
      "executor.run_s" -> c.runMs / 1e3,
      "executor.cpu_s" -> c.cpuNs / 1e9,
      "executor.gc_s" -> c.gcMs / 1e3,
      "executor.deserialize_s" -> c.deserializeMs / 1e3,
      "executor.scheduler_delay_s" -> c.schedulerDelayMs / 1e3,
      "executor.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "executor.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "executor.spill_bytes" -> c.spillBytes.toDouble)
  }
}
