package graft.sources

import java.nio.charset.Charset
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S1/S3 — the reference's tolerant CSV ingestion
  * (`/root/reference/src/gdrive_handler.py:220-260`): semicolon-separated,
  * latin1, junk leading line(s), ragged rows, duplicate headers.
  *
  * Spark mapping:
  *  - header is read driver-side (a few lines through Hadoop FS — works
  *    for any scheme, no full-file read), together with the byte offset
  *    where the data lines start;
  *  - data lines are read as line-aligned byte-range splits and decoded
  *    in executors (charset-aware; Spark's text reader assumes UTF-8),
  *    then parsed with an explicit all-string schema in PERMISSIVE
  *    mode — short rows null-pad, long rows truncate, exactly the
  *    reference's `truncate_ragged_lines` + null padding;
  *  - duplicate headers are renamed `{name}_duplicated_{n}` (polars'
  *    convention), so the downstream P1 drop behaves identically.
  *
  * Scale note: one export is split into `defaultParallelism` byte ranges,
  * so its decode, parse, cleaning and casts run on every core instead of
  * in one whole-file task; no executor holds more than its split. Lines
  * are cut on the byte 0x0A, which is only sound for charsets that write
  * `'\n'` as that single byte (latin1, UTF-8) — other charsets are
  * refused, never mis-split.
  */
object CsvSource {

  /** Polars-style duplicate-header rename. */
  def dedupeHeaders(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { n =>
      seen.get(n) match {
        case None => seen(n) = 0; n
        case Some(k) => seen(n) = k + 1; s"${n}_duplicated_$k"
      }
    }
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")) t.substring(1, t.length - 1)
    else t
  }

  /** Fails loudly unless `cs` writes `'\r'` and `'\n'` as the single
    * bytes 0x0D and 0x0A, the condition for cutting lines on bytes.
    */
  private def requireByteNewlines(cs: Charset): Unit =
    require("\r\n".getBytes(cs).sameElements(Array[Byte](13, 10)),
      s"charset ${cs.name} does not encode '\\n' as the single byte 0x0A; " +
        "line-aligned splits need latin1 or UTF-8")

  /** Driver-side scan of the first `skipLines + 1` lines: the header
    * line (the last of them, one trailing `'\r'` stripped) and the byte
    * offset just past its `'\n'`, where the data lines start.
    */
  private def headerAndDataStart(fs: FileSystem, p: Path, cs: Charset,
      skipLines: Int): (String, Long) = {
    val in = new java.io.BufferedInputStream(fs.open(p))
    try {
      val line = new java.io.ByteArrayOutputStream()
      var lineNo = 0
      var offset = 0L
      var eof = false
      while (lineNo <= skipLines && !eof) {
        val b = in.read()
        if (b < 0) eof = true
        else {
          offset += 1
          if (b == '\n') lineNo += 1
          else if (lineNo == skipLines) line.write(b)
        }
      }
      // an unterminated last line still counts, as in a line reader
      if (lineNo < skipLines || (eof && line.size == 0))
        throw new IllegalArgumentException(
          s"$p has no header line after skipping $skipLines")
      val bytes = line.toByteArray
      val n = if (bytes.nonEmpty && bytes.last == '\r') bytes.length - 1 else bytes.length
      (new String(bytes, 0, n, cs), offset)
    } finally in.close()
  }

  /** The header of `path` (after `skipLines` junk lines) and its
    * non-empty data lines, in file order: the rows of a whole-file
    * `split("\r?\n").drop(skipLines + 1).filterNot(_.isEmpty)`, read as
    * `defaultParallelism` line-aligned byte-range splits so every core
    * decodes a share. A split reader yields each line that STARTS in
    * its range, keyed by that start offset; lines before the data start
    * are dropped by key.
    */
  def readLines(spark: SparkSession, path: String, sep: String,
      encoding: String, skipLines: Int): (Seq[String], Dataset[String]) = {
    val cs = Charset.forName(encoding)
    requireByteNewlines(cs)
    val p = new Path(path)
    val conf = new JobConf(spark.sessionState.newHadoopConf())
    val fs = p.getFileSystem(conf)
    val (header, dataStart) = headerAndDataStart(fs, p, cs, skipLines)
    val fileLen = fs.getFileStatus(p).getLen
    conf.set("textinputformat.record.delimiter", "\n")
    FileInputFormat.setInputPaths(conf, p)
    val csName = cs.name
    val lines = spark.sparkContext.hadoopRDD(conf, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val charset = Charset.forName(csName)
        it.flatMap { case (k, t) =>
          val start = k.get
          val len = t.getLength
          // one '\r' before a '\n' is part of the terminator; a line
          // that ends the file unterminated keeps it, as the regex does
          val n =
            if (len > 0 && t.getBytes()(len - 1) == '\r' && start + len < fileLen) len - 1
            else len
          if (start < dataStart || n == 0) None
          else Some(new String(t.getBytes, 0, n, charset))
        }
      }
    (header.split(java.util.regex.Pattern.quote(sep), -1).toSeq.map(stripQuotes),
      spark.createDataset(lines)(Encoders.STRING))
  }

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  def readReferenceCsv(spark: SparkSession, path: String, sep: String = ";",
      encoding: String = "latin1", skipLines: Int = 1): DataFrame = {
    // Q4 — size guard (gdrive_handler.py:235-239 warns past 10 MB)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getFileStatus(p).getLen
    if (bytes > 10L * 1024 * 1024)
      log.warn(f"$path is ${bytes / 1048576.0}%.1f MB (> 10 MB guard)")
    val (header, dataLines) = readLines(spark, path, sep, encoding, skipLines)
    val schema = StructType(dedupeHeaders(header).map(StructField(_, StringType, nullable = true)))
    spark.read
      .schema(schema)
      .option("sep", sep)
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .csv(dataLines)
  }
}
