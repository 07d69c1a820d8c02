package graft

import org.apache.spark.sql.functions._
import graft.sources.{DocumentSource, WebScrape}
import graft.store.VectorStore
import graft.pipeline.RagPipeline.TokenUsage
import java.nio.file.{Files, Paths}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("webscrape: blocklist stripped, sections split on headings (S8)") {
    val html =
      """<html><head><style>.x{}</style><script>evil()</script></head>
        |<body><nav>menu menu</nav>
        |<h1>Intro</h1><p>First &amp; second.</p>
        |<h2>Details</h2><p>More   text.</p><footer>foot</footer>
        |</body></html>""".stripMargin
    val out = WebScrape.extractSections(html)
    assert(out == Seq("Intro" -> "First & second.", "Details" -> "More text."))
  }

  test("webscrape: distributed sections explode") {
    val df = Seq((1L, "<h1>A</h1>one<h2>B</h2>two")).toDF("page_id", "html")
    val out = WebScrape.sections(df, "html")
      .select("section_index", "title", "content")
      .as[(Int, String, String)].collect().toSeq
    assert(out == Seq((0, "A", "one"), (1, "B", "two")))
  }

  test("document source: extension dispatch, stub formats, skip accounting (S1-S6)") {
    val dir = Files.createTempDirectory("graft-docs").toString
    Files.writeString(Paths.get(dir, "a.txt"), "plain text")
    Files.writeString(Paths.get(dir, "b.md"), "# heading")
    Files.writeString(Paths.get(dir, "c.pdf"), "%PDF-fake")
    Files.writeString(Paths.get(dir, "d.xyz"), "???")
    val corpus = DocumentSource.loadCorpus(spark, dir).cache()
    val byName = corpus.select("filename", "text", "parse_ok")
      .as[(String, String, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byName("a.txt") == (("plain text", true)))
    assert(byName("c.pdf")._1.startsWith("[pdf-no-text"))
    assert(!byName("d.xyz")._2)
    val summary = DocumentSource.summary(corpus)
      .as[(String, Long)].collect().toMap
    assert(summary == Map("processed" -> 3L, "skipped" -> 1L))
  }

  test("JDK-only binary extractors: DOCX/PPTX/XLSX zip+XML and PDF Tj/TJ streams") {
    import graft.sources.BinaryText
    def zipOf(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (name, content) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(content.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    // DOCX: runs concatenate within a paragraph, paragraphs newline-join,
    // entities unescape
    val docx = zipOf("word/document.xml" ->
      ("<w:document><w:body><w:p><w:r><w:t>Tom </w:t></w:r>" +
        "<w:r><w:t xml:space=\"preserve\">&amp; Jerry</w:t></w:r></w:p>" +
        "<w:p><w:r><w:t>Line 2</w:t></w:r></w:p></w:body></w:document>"))
    assert(BinaryText.extractDocx(docx) == "Tom & Jerry\nLine 2")
    // PPTX: slides ordered numerically (slide10 after slide2)
    val pptx = zipOf(
      "ppt/slides/slide10.xml" -> "<p:sld><a:t>ten</a:t></p:sld>",
      "ppt/slides/slide2.xml" -> "<p:sld><a:t>two</a:t></p:sld>")
    assert(BinaryText.extractPptx(pptx) == "two\n\nten")
    // XLSX: cell grid reconstruction — shared-string refs resolve, raw
    // numeric <v> cells pass through, tabs between cells, rows newline
    val xlsx = zipOf(
      "xl/sharedStrings.xml" ->
        "<sst><si><t>alpha</t></si><si><t>beta &lt;3</t></si></sst>",
      "xl/worksheets/sheet1.xml" ->
        ("<worksheet><sheetData>" +
          "<row r=\"1\"><c r=\"A1\" t=\"s\"><v>0</v></c><c r=\"B1\"><v>42</v></c></row>" +
          "<row r=\"2\"><c r=\"A2\" t=\"s\"><v>1</v></c></row>" +
          "</sheetData></worksheet>"))
    assert(BinaryText.extractXlsx(xlsx) == "alpha\t42\nbeta <3")
    // workbook with shared strings but no worksheets falls back to them
    val sstOnly = zipOf("xl/sharedStrings.xml" -> "<sst><si><t>solo</t></si></sst>")
    assert(BinaryText.extractXlsx(sstOnly) == "solo")
    // numeric-only workbook with empty rows yields empty → no-text marker
    assert(BinaryText.extractXlsx(zipOf("xl/worksheets/sheet1.xml" -> "<x/>")) == "")
    // PDF: uncompressed stream with Tj + TJ kerned array and escapes
    val rawPdf = ("%PDF-1.4\nstream\nBT (Plain \\(quoted\\)) Tj " +
      "[(ker) -20 (ned)] TJ ET\nendstream").getBytes("ISO-8859-1")
    assert(BinaryText.extractPdf(rawPdf) == "Plain (quoted) kerned")
    // PDF: Flate-compressed stream decodes through Inflater
    val content = "BT (Deflated text) Tj ET".getBytes("ISO-8859-1")
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    val flatePdf = ("%PDF-1.4\nstream\n").getBytes("ISO-8859-1") ++
      out.toByteArray ++ "\nendstream".getBytes("ISO-8859-1")
    assert(BinaryText.extractPdf(flatePdf) == "Deflated text")
    // corrupt zip degrades to empty (→ caller's no-text marker), no throw
    assert(BinaryText.extractDocx("not a zip".getBytes("UTF-8")) == "")
  }

  test("deep parse: tab grids become markdown tables, headings and bullets normalize") {
    import graft.sources.BinaryText
    val text = "SUMMARY\nregion\ttotal\nemea\t7\n• first\n* second\nplain sentence here."
    assert(BinaryText.structureMarkdown(text) ==
      "## SUMMARY\n| region | total |\n| --- | --- |\n| emea | 7 |\n" +
        "- first\n- second\nplain sentence here.")
    // deep-mode corpus load structures the XLSX grid end-to-end
    val dir = Files.createTempDirectory("graft-deep").toString
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("xl/sharedStrings.xml"))
    z.write("<sst><si><t>region</t></si><si><t>total</t></si></sst>".getBytes("UTF-8"))
    z.closeEntry()
    z.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    z.write(("<worksheet><sheetData>" +
      "<row><c t=\"s\"><v>0</v></c><c t=\"s\"><v>1</v></c></row>" +
      "<row><c><v>7</v></c><c><v>950</v></c></row>" +
      "</sheetData></worksheet>").getBytes("UTF-8"))
    z.closeEntry(); z.close()
    Files.write(Paths.get(dir, "t.xlsx"), bos.toByteArray)
    val deepText = DocumentSource.loadCorpus(spark, dir, deep = true)
      .select("text").as[String].head()
    assert(deepText == "| region | total |\n| --- | --- |\n| 7 | 950 |")
  }

  /** Spark jobs `body` submits: a listener records job starts until a marker
    * job, run after `body`, reaches it (the bus delivers events in order). */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "sources-spec-marker"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var jobs = 0
      var d = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (d != marker) {
        assert(d != null, "marker job never reached the listener")
        jobs += 1
        d = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      jobs
    } finally sc.removeSparkListener(listener)
  }

  test("file listing feeds change detection (S10 shape)") {
    val dir = Files.createTempDirectory("graft-list").toString
    Files.writeString(Paths.get(dir, "x.txt"), "xx")
    val listing = DocumentSource.listFiles(spark, dir)
    val row = listing.head()
    assert(row.getAs[String]("name").endsWith("x.txt"))
    assert(row.getAs[Long]("size") == 2L)
    assert(row.getAs[String]("etag").length == 32)

    // 41 visible files, past parallelPartitionDiscovery.threshold (32) where
    // a glob root per file starts a listing job, and two hidden ones
    (0 until 38).foreach(i => Files.writeString(Paths.get(dir, f"d$i%02d.txt"), "t" * (i + 1)))
    Files.writeString(Paths.get(dir, "a.txt"), "alpha")
    Files.writeString(Paths.get(dir, "b.md"), "# beta")
    Files.writeString(Paths.get(dir, "_x.txt"), "hidden")
    Files.writeString(Paths.get(dir, ".x.txt"), "hidden")
    assert(jobsIn(DocumentSource.listFiles(spark, dir).collect()) == 0)
    assert(jobsIn(DocumentSource.loadCorpus(spark, dir)) == 0)

    // names and etags are byte-identical to those derived from loadCorpus's
    // (path, size, time_modified) — the store's chunk metadata holds the
    // latter, so any drift would mark every file modified
    def derived(glob: String): Set[(String, String)] =
      DocumentSource.loadCorpus(spark, dir, glob)
        .select("path", "size", "time_modified").collect().map { r =>
          val (p, len, mt) = (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime)
          val etag = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$p:$len:$mt".getBytes("UTF-8")).map("%02x".format(_)).mkString
          (DocumentSource.flattenName(p.stripPrefix("file:").split('/').takeRight(2)
            .mkString("/")), etag)
        }.toSet
    def listed(glob: String): Set[(String, String)] =
      DocumentSource.listFiles(spark, dir, glob).select("name", "etag")
        .as[(String, String)].collect().toSet
    val visible = Seq("x.txt", "a.txt", "b.md") ++ (0 until 38).map(i => f"d$i%02d.txt")
    val base = Paths.get(dir).getFileName.toString + "_"
    for ((glob, names) <- Seq("*" -> visible, "*.txt" -> visible.filter(_.endsWith(".txt")),
                              "{a.txt,b.md}" -> Seq("a.txt", "b.md"))) {
      val l = listed(glob)
      assert(l.map(_._1) == names.map(base + _).toSet, glob)
      assert(l == derived(glob), glob)
    }

    // an existing directory with no matching file lists empty; a missing one
    // fails naming it (an empty listing would make refresh delete the store)
    assert(DocumentSource.listFiles(spark, dir, "*.pdf").collect().isEmpty)
    assert(DocumentSource.loadCorpus(spark, dir, "*.pdf").count() == 0L)
    val missing = Paths.get(dir, "no-such-corpus").toString
    Seq(() => DocumentSource.listFiles(spark, missing),
        () => DocumentSource.loadCorpus(spark, missing)).foreach { f =>
      val e = intercept[Exception](f())
      assert(e.getMessage.contains(missing), e.getMessage)
    }
  }

  test("flattenName: a/b.txt → a_b.txt (oci/bucket.py:121-124)") {
    assert(DocumentSource.flattenName("a/b.txt") == "a_b.txt")
  }

  test("token usage folds across steps (A5, runtime/common.py:150-160)") {
    val folded = TokenUsage.fold(Seq(TokenUsage(10, 5), TokenUsage(3, 2), TokenUsage()))
    assert(folded == TokenUsage(13, 7) && folded.total == 20)
    val viaDf = TokenUsage.foldDf(Seq((10L, 5L), (3L, 2L)).toDF("prompt", "completion"))
    assert(viaDf == TokenUsage(13, 7))
  }

  test("partitioned store write prunes partitions on filename probe") {
    val root = Files.createTempDirectory("graft-part").toString
    val rows = (0 until 200).map { i =>
      (s"f$i-0", s"text $i", Map("filename" -> s"file-${i % 20}"), Seq(1.0f))
    }
    val df = rows.toDF("id", "text", "metadata", "embedding")
    VectorStore.writePartitioned(df, root, "P1", "{}", numBuckets = 8)
    val probe = VectorStore.readForFilename(spark, root, "P1", "file-3", numBuckets = 8)
    val got = probe.select("id").as[String].collect().toSet
    val expected = rows.filter(_._3("filename") == "file-3").map(_._1).toSet
    assert(got == expected)
    // the filter must land in PartitionFilters (prune, not post-scan filter)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("file_bucket"))
  }

  test("schema drift across ingest batches: mergeSchema union + null backfill") {
    // month 1 ships (id, text); month 2 adds a lang column — the corpus
    // must stay readable as ONE table with nulls backfilled, and column
    // pruning must still reach the scan for old-schema queries
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    Seq((1L, "alpha")).toDF("id", "text")
      .write.parquet(s"$dir/batch=1")
    Seq((2L, "beta", "en")).toDF("id", "text", "lang")
      .write.parquet(s"$dir/batch=2")
    val all = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(all.columns.toSet == Set("id", "text", "lang", "batch"))
    val rows = all.select("id", "lang").as[(Long, Option[String])]
      .collect().toMap
    assert(rows == Map(1L -> None, 2L -> Some("en"))) // old rows backfill null
    // normalization: a stable downstream schema with an explicit default
    val normalized = all.withColumn("lang", coalesce(col("lang"), lit("und")))
    assert(normalized.filter(col("lang") === "und").count() == 1L)
    // pruning: selecting old columns reads only them (+ the partition col)
    val p = all.select("text").queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<text:string>"), p.linesIterator.take(8).mkString("\n"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
