package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IngestSpec extends SparkSpec {

  /** A checked-in fixture (`src/test/resources/fixtures/`) as a
    * filesystem path — stand-ins rebuilt from the reference's recorded
    * formats (FIXTURES.md §A6, SURVEY.md §1.5), so the suite needs
    * nothing outside the repo. */
  private def fixture(name: String): java.nio.file.Path =
    Paths.get(getClass.getResource(s"/fixtures/$name").toURI)

  // ---------------------------------------------------------- S2/S3

  test("S2: imports the reference's own playlists.json fixture") {
    val df = PlaylistJson.importPlaylists(spark,
      fixture("playlists.json").toString)
    val n = df.count()
    assert(n >= 30, s"expected the ~30 committed entries, got $n")
    // every row normalized: id + title + url present
    assert(df.filter(col("playlist_id").isNull || col("title").isNull ||
      col("url").isNull).count() == 0)
  }

  test("S2: variant keys, synthesized url, invalid rows dropped") {
    import spark.implicits._
    val raw = Seq(
      ("""{"playlist_id":"PL1","title":"A","url":"https://x/PL1"}"""),
      ("""{"id":"PL2","title":"B"}"""),
      ("""{"playlistId":"PL3","name":"C"}"""),
      ("""{"title":"no id"}"""),
      ("""{"id":"PL5"}""")
    ).toDF("j")
    val tmp = tmpDir("pl")
    raw.select("j").write.mode("overwrite").text(tmp)
    val got = PlaylistJson.coalesceVariants(spark.read.json(tmp))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("PL1", "A", "https://x/PL1"),
      ("PL2", "B", "https://www.youtube.com/playlist?list=PL2"),
      ("PL3", "C", "https://www.youtube.com/playlist?list=PL3")))
  }

  test("S3: export round-trips through the pretty JSON array file") {
    import spark.implicits._
    val p = Seq(("PLa", "zeta", "u1"), ("PLb", "Alpha", "u2"), ("PLc", "empty", "u3"))
      .toDF("playlist_id", "title", "url")
    val pv = Seq(("PLa", "v2", 2), ("PLa", "v1", 1), ("PLb", "v9", 1))
      .toDF("playlist_id", "video_id", "position")
    val shaped = PlaylistJson.exportShape(p, pv)
    // NOCASE title order: Alpha, empty, zeta
    assert(shaped.select("playlist_id").as[String].collect().toSeq ==
      Seq("PLb", "PLc", "PLa"))
    assert(shaped.filter(col("playlist_id") === "PLa")
      .select("video_ids").head.getSeq[String](0) == Seq("v1", "v2"))
    assert(shaped.filter(col("playlist_id") === "PLc")
      .select("video_ids").head.getSeq[String](0) == Seq.empty)
    val out = tmpDir("exp") + "/playlists.json"
    PlaylistJson.writeJsonArrayFile(shaped, out)
    val reread = spark.read.option("multiLine", true).json(out)
    assert(reread.count() == 3)
    assert(reread.filter(col("playlist_id") === "PLa")
      .select("video_ids").head.getSeq[String](0) == Seq("v1", "v2"))
  }

  // ------------------------------------------------------------- S5

  test("S5: parses the reference's sample timestamped transcript") {
    val content = new String(Files.readAllBytes(
      fixture("sample_transcript_with_timestamps.txt")),
      StandardCharsets.UTF_8)
    val p = TranscriptFiles.parseContent("sample.txt", content)
    assert(p.valid)
    assert(p.video_id.contains("dQw4w9WgXcQ"))
    assert(p.title.contains("How to Add Timestamped Transcripts"))
    assert(p.transcript.get.startsWith("[00:00] Welcome"))
  }

  test("S5: header variants and rejects") {
    // ID: line instead of URL
    val byId = TranscriptFiles.parseContent("f",
      "TITLE: T\nID: abcdefghijk\n\nbody text")
    assert(byId.valid && byId.video_id.contains("abcdefghijk"))
    assert(byId.url.contains("https://www.youtube.com/watch?v=abcdefghijk"))
    // missing title → defaulted
    val noTitle = TranscriptFiles.parseContent("f",
      "URL: https://youtu.be/abcdefghijk\n\nbody")
    assert(noTitle.valid && noTitle.title.contains("Video abcdefghijk"))
    // URL id wins over ID line
    val both = TranscriptFiles.parseContent("f",
      "URL: https://www.youtube.com/watch?v=AAAAAAAAAAA\nID: bbbbbbbbbbb\n\nbody")
    assert(both.video_id.contains("AAAAAAAAAAA"))
    // no id anywhere → reject
    val noId = TranscriptFiles.parseContent("f", "TITLE: X\n\nbody")
    assert(!noId.valid && noId.reject_reason.contains("no video id"))
    // id but empty body → reject
    val noBody = TranscriptFiles.parseContent("f", "ID: abcdefghijk\n\n   \n")
    assert(!noBody.valid && noBody.reject_reason.contains("no transcript content"))
  }

  test("S5: inbox directory read parses txt files distributed") {
    val inbox = tmpDir("inbox")
    Files.write(Paths.get(inbox, "a.txt"),
      "TITLE: A\nURL: https://youtu.be/aaaaaaaaaaa\n\n[00:01] hi".getBytes)
    Files.write(Paths.get(inbox, "b.txt"),
      "no header at all".getBytes)
    val parsed = TranscriptFiles.readInbox(spark, inbox).collect()
    assert(parsed.length == 2)
    assert(parsed.count(_.valid) == 1)
  }

  // ------------------------------------------------------------- S6/S7

  test("S6: golden export format byte-exact") {
    import spark.implicits._
    val df = Seq(("My Video", "https://u/v", null: String, "en",
      "2024-05-01", "line one\nline two")).toDF(
      "title", "url", "author", "lang", "pub", "txt")
    val content = df.select(TranscriptFiles.exportContent(
      col("title"), col("url"), col("author"), col("lang"), col("pub"),
      col("txt"), lit("2026-01-01 10:00:00")).as("c")).head.getString(0)
    val expected =
      "TITLE: My Video\n" +
        "URL: https://u/v\n" +
        "# AUTHOR: Unknown\n" +
        "# LANGUAGE: en\n" +
        "# EXPORTED: 2026-01-01 10:00:00\n" +
        "# PUBLISHED: 2024-05-01\n" +
        "\n" +
        "line one\nline two"
    assert(content == expected)
  }

  test("S7: batch export writes one file per row from executors") {
    import spark.implicits._
    val df = Seq(
      ("vid00000001", "Nice: Title?"),
      ("vid00000002", "plain")
    ).toDF("video_id", "title")
      .select(
        TranscriptFiles.exportFilename(col("video_id"), col("title")).as("filename"),
        concat(lit("content of "), col("video_id")).as("content"))
    val out = tmpDir("texp")
    TranscriptFiles.writeTranscriptFiles(df, out)
    val files = Files.list(Paths.get(out)).toArray.map(_.toString).sorted
    assert(files.exists(_.endsWith("vid00000001_Nice_ Title_.txt")))
    assert(files.exists(_.endsWith("vid00000002_plain.txt")))
  }

  // ------------------------------------------------------------- S4

  test("S4: sheets adapter normalizes through the same variant path") {
    val src = new SheetsSource.Static(Seq(
      Map("id" -> "PL9", "name" -> "From Sheet"),
      Map("title" -> "no id -> dropped")))
    val got = SheetsSource.toPlaylists(spark, src).collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "PL9")
    assert(got(0).getString(2) == "https://www.youtube.com/playlist?list=PL9")
  }

  test("S4: CSV-export reader — variant headers, quoting, empty cells") {
    // the shape a real export?format=csv response has: header-driven
    // keys, quoted fields with commas/doubled quotes, empty cells
    val csv = Seq(
      "id,name,url",
      "PL1,\"Jazz, \"\"Late\"\" Night\",https://u/PL1",
      "PL2,Plain,",            // empty url -> synthesized
      ",No id -> dropped,x",   // empty id cell -> row dropped
      "PL3,\"Multi\nline\","   // embedded newline survives quoting
    ).mkString("\r\n")
    val f = Paths.get(tmpDir("sheet"), "ws.csv")
    Files.write(f, csv.getBytes("UTF-8"))
    val got = SheetsSource.toPlaylists(spark,
      new SheetsSource.CsvExport(f.toUri.toString))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      ("PL1", "Jazz, \"Late\" Night", "https://u/PL1"),
      ("PL2", "Plain", "https://www.youtube.com/playlist?list=PL2"),
      ("PL3", "Multi\nline", "https://www.youtube.com/playlist?list=PL3")))
    // endpoint construction is the documented public surface
    assert(SheetsSource.csvExportUrl("SHEET", 7) ==
      "https://docs.google.com/spreadsheets/d/SHEET/export?format=csv&gid=7")
  }

  test("S4 write side: sheet rows -> playlists.json in reference shape, S2 round trip") {
    // generate_playlists.py's output: a pretty array of {"id", "title",
    // "url"} objects ("id", not "playlist_id"), in sheet ROW order,
    // with the url synthesized when the sheet omits it
    val src = new SheetsSource.Static(Seq(
      Map("playlist_id" -> "PLz", "title" -> "Zeta"),
      Map("id" -> "PLa", "name" -> "Alpha", "url" -> "https://u/PLa"),
      Map("title" -> "no id -> dropped")))
    val out = Paths.get(tmpDir("gen"), "playlists.json")
    val n = SheetsSource.generatePlaylists(spark, src, out.toString)
    assert(n == 2)
    val text = new String(Files.readAllBytes(out), "UTF-8")
    // reference key names and row order, not the table's column names
    assert(text.contains("\"id\":\"PLz\"") && !text.contains("playlist_id"),
      text)
    assert(text.indexOf("PLz") < text.indexOf("PLa")) // sheet order kept
    // the file the write side produces is exactly what the S2 import
    // reads back — the Sheets round trip
    val back = PlaylistJson.importPlaylists(spark, out.toString)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(back.toSeq == Seq(
      ("PLa", "Alpha", "https://u/PLa"),
      ("PLz", "Zeta", "https://www.youtube.com/playlist?list=PLz")))
    // the reference exits 1 on an empty result; the engine throws
    val e = intercept[IllegalArgumentException] {
      SheetsSource.generatePlaylists(spark,
        new SheetsSource.Static(Seq(Map("title" -> "no id"))),
        Paths.get(tmpDir("gen2"), "none.json").toString)
    }
    assert(e.getMessage.contains("No valid playlist entries"), e.getMessage)
  }
}
