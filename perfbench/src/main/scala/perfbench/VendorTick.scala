package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.core.SchemaOps
import graft.pipelines.{AllocationPipeline, DockPipeline, SouthernCrossPipeline, VendorConfig}
import graft.sinks.{MacroRenderer, PdfMerge, XlsxWriter}
import graft.sources.Xlsx
import graft.streaming.{EmailBody, EmailMessage, InMemoryEmailSender, Orchestrator, StatusWriter}
import graft.streaming.Orchestrator.VendorRow

/** vendor_tick: the reference's own job. Each orchestrator tick re-reads
  * the status sheet, claims its Ready vendor rows and processes them on
  * the reference's four-worker pool: read the vendor's spreadsheet, run
  * its pipeline, write the Mega-Script workbook and the ADPO X macro, merge
  * the vendor's PO PDFs and e-mail the result. Ticks run back to back.
  *
  * Inputs: `vendors.tsv` (vendor number, layout, spreadsheet, PDF folder),
  * `sheet.xlsx` (the measured sheet) and `warm_sheet.xlsx` (one small
  * vendor per pipeline, for set-up). */
final class VendorTick(inputs: String, work: String) extends Workload {
  import VendorTick.Vendor

  private val vendors: Map[String, Vendor] =
    Files.readAllLines(Paths.get(inputs, "vendors.tsv")).asScala.filter(_.nonEmpty).map { l =>
      val Array(num, layout, xlsx, pdf) = l.split("\t")
      num -> Vendor(num, layout, s"$inputs/$xlsx", s"$inputs/$pdf")
    }.toMap

  override def setup(ctx: Ctx, k: Int): Unit =
    tick(ctx, s"$inputs/warm_sheet.xlsx", s"$work/setup$k", new InMemoryEmailSender)

  /** Set-up already ran every pipeline three times, so no extra pass is
    * needed to warm up: the checker reads what the last measured tick
    * wrote to `out_dir` after the run. */
  override def check(ctx: Ctx): Map[String, Any] = Map("out_dir" -> s"$work/out")

  override def pass(ctx: Ctx): PassResult =
    tick(ctx, s"$inputs/sheet.xlsx", s"$work/out", new InMemoryEmailSender)

  /** One orchestrator tick over `sheet`, outputs under `out`. */
  private def tick(ctx: Ctx, sheet: String, out: String,
                   sender: InMemoryEmailSender): PassResult = {
    val tr = ctx.tr
    val records = new ConcurrentLinkedQueue[JobRecord]
    val io = new java.util.concurrent.atomic.AtomicLongArray(2)
    val t0 = System.nanoTime()
    tr.span("streaming.tick") {
      val tickSpan = tr.currentSpan
      val values = tr.span("sources.sheet_read") { Xlsx.readSheetGrid(sheet) }
      val writer = new ClaimClock
      val start = System.nanoTime()
      Orchestrator.runTick(values, writer, Set.empty, workers = 4) { row =>
        val begin = System.nanoTime()
        val id = ctx.nextJob()
        tr.record(tickSpan, id, "streaming.queue_wait", writer.claimedNs, begin)
        val rec = try {
          val (in, written) = tr.job("job.vendor", id, parent = tickSpan) {
            processVendor(ctx, row, s"$out/${row.vendorNum}", sender)
          }
          io.addAndGet(0, in); io.addAndGet(1, written)
          JobRecord(row.vendorNum, "vendor", System.nanoTime() - begin, ok = true)
        } catch {
          case e: Exception => JobRecord(row.vendorNum, "vendor",
            System.nanoTime() - begin, ok = false,
            error = s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        records.add(rec)
        rec.ok
      }
      tr.record(tickSpan, 0L, "streaming.claim", start, writer.claimedNs)
    }
    val wall = System.nanoTime() - t0
    val leaked = ctx.isolate()
    // Vendors run concurrently, so leaks are counted per tick; the count
    // rides on the tick's first job record.
    val jobs = records.asScala.toSeq
    PassResult(wall, jobs.headOption.map(h => h.copy(leakedRdds = leaked)).toSeq ++ jobs.drop(1),
      io.get(1), io.get(0), ticks = 1)
  }

  /** processVendor: returns (input bytes read, output bytes written). */
  private def processVendor(ctx: Ctx, row: VendorRow, dir: String,
                            sender: InMemoryEmailSender): (Long, Long) = {
    val tr = ctx.tr
    val spark = ctx.spark
    val v = vendors(row.vendorNum)
    Files.createDirectories(Paths.get(dir))
    val grid = tr.span("sources.xlsx_read") {
      val cells = Xlsx.readSheetGrid(v.xlsx)
      tr.count("sources.cells", cells.map(_.size.toLong).sum)
      SchemaOps.gridFromRows(spark, cells)
    }
    val fileName = Paths.get(v.xlsx).getFileName.toString
    val cfg = VendorTick.configs(v.layout)
    val canonical: DataFrame = tr.span("pipelines.build") {
      v.layout match {
        case "allocation" | "leavins" =>
          AllocationPipeline.run(grid, cfg, edd = Some(VendorTick.Edd))
        case "acme" => DockPipeline.runAcme(grid, fileName, VendorTick.Edd, cfg)
        case "phillips" => DockPipeline.runPhillips(grid, fileName, VendorTick.Edd, cfg)
        case "southerncross" => SouthernCrossPipeline.run(grid, VendorTick.Edd, cfg)
      }
    }
    val mega = Paths.get(dir, "mega.xlsx")
    tr.span("sinks.xlsx") { XlsxWriter.writeMegaScript(canonical, mega.toString) }
    val macroPath = Paths.get(dir,
      MacroRenderer.adpoXFileName(cfg.supplier.toString, VendorTick.TodayIso))
    tr.span("sinks.macro") {
      val text = MacroRenderer.adpoX(canonical, cfg.buyer, cfg.supplier.toString,
        VendorTick.TodayIso)(spark)
      Files.writeString(macroPath, text)
    }
    val (merged, _) = tr.span("sinks.pdf_merge") {
      PdfMerge.combine(v.pdfDir, dir, VendorTick.DateStr)
    }
    tr.span("streaming.email") {
      val items = Orchestrator.storePoItems(row)
      sender.send(EmailMessage(Seq(s"vendor${row.vendorNum}@example.com"), Nil,
        s"POs ${row.vendorName}", EmailBody.body(items),
        Seq(merged.getFileName.toString -> Files.readAllBytes(merged),
          "mega.xlsx" -> Files.readAllBytes(mega))))
    }
    val outputs = Seq(mega, macroPath, merged).map(Files.size(_))
    tr.count("sinks.output_b", outputs.sum)
    tr.count("sinks.files", outputs.size)
    val in = Files.size(Paths.get(v.xlsx)) + PdfMerge.pdfsIn(v.pdfDir).map(Files.size(_)).sum
    (in, outputs.sum)
  }
}

/** Status write-back that notes when the tick's claim was written: the
  * first batch update of a tick is the Ready -> SENDING claim. */
private final class ClaimClock extends StatusWriter {
  @volatile var claimedNs: Long = 0L
  override def batchUpdate(updates: Seq[(String, String)]): Unit =
    if (claimedNs == 0L) claimedNs = System.nanoTime()
}

object VendorTick {
  final case class Vendor(num: String, layout: String, xlsx: String, pdfDir: String)
  val Edd = "9/15/2026"
  val TodayIso = "2026-09-11"
  val DateStr = "09-11-26"
  val configs: Map[String, VendorConfig] = Map(
    "allocation" -> VendorConfig.`247`, "leavins" -> VendorConfig.Leavins,
    "acme" -> VendorConfig.Acme, "phillips" -> VendorConfig.Phillips,
    "southerncross" -> VendorConfig.SouthernCross)
}
