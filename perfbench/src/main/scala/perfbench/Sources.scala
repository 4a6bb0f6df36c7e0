package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Direct timings of the public source readers of `graft.sources`, on the
  * inputs the financial and ingest queries read: the reference workbook,
  * the notes PDF, and WARC and Avro files written from `documents` and
  * `orders` as the ingest queries write them. Each reader runs five
  * times; the median counts.
  */
object Sources {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(reps: Int)(f: => Any): Double =
    median((1 to reps).map { _ =>
      val t = System.nanoTime()
      f
      (System.nanoTime() - t) / 1e9
    })

  def time(spark: SparkSession, cfg: JsonNode): Map[String, Double] = {
    val fixtures = cfg.get("fixtures_dir").asText
    val scratch = cfg.get("scratch_dir").asText
    val sfDir = cfg.get("sf_dir").asText
    val xlsx = s"$fixtures/xlsx/FinancialStatement-2024-I-ACES.xlsx"
    val pdf = Files.readAllBytes(Paths.get(s"$fixtures/bin/calk_notes.pdf"))
    val warc = s"$scratch/warc"
    val avro = s"$scratch/avro"
    val docs = graft.ops.Tables.documents(spark, sfDir)
    graft.sources.WarcSource.write(
      docs.select(concat(lit("https://corpus.example/"), col("source"), lit("/"),
          col("doc_id")).as("url"),
        lit("2024-01-01T00:00:00Z").as("date"), col("text")),
      warc)
    graft.sources.AvroSource.write(
      graft.ops.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate").cast("date").as("o_date")),
      avro)
    Map(
      "sources.xlsx_s" -> timed(5)(graft.sources.XlsxSource.readSheet(xlsx, "1000000")),
      "sources.pdf_s" -> timed(5)(graft.sources.PdfTextSource.extractLines(pdf)),
      "sources.warc_s" -> timed(5)(
        graft.sources.WarcSource.read(spark, s"$warc/*.warc.gz").queryExecution.toRdd.count()),
      "sources.avro_s" -> timed(5)(
        graft.sources.AvroSource.read(spark, avro).queryExecution.toRdd.count()))
  }
}
