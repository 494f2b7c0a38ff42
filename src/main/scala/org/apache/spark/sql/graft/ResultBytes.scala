package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import java.io.{ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

/** Encodes a query's result rows to UTF-8 in the tasks that compute
  * them, straight from the rows of its own plan (`queryExecution.toRdd`):
  * no deserialize/map/serialize wrapper around the plan, no `String` per
  * row, no re-encoding on the driver. `JacksonGenerator` and the
  * Dataset's encoder are `private[sql]`, hence this package.
  */
object ResultBytes {

  /** Encodes one partition's rows into one chunk, or returns None once
    * the chunk passes the cap (the second argument) in bytes. Built on
    * the driver, run in tasks. */
  type Encoder = (Iterator[InternalRow], Long) => Option[Array[Byte]]

  /** One JSON object per row, as `Dataset.toJSON` writes it: the same
    * generator and options, over the same values without the Row round
    * trip. `sep` goes between rows, `end` after each. */
  def json(df: DataFrame, sep: String, end: String): Encoder = {
    val schema = df.schema
    val zone = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.sessionLocalTimeZone
    (rows, cap) => {
      val out = new Chunk
      val gen = new JacksonGenerator(schema, out.text,
        new JSONOptions(Map.empty[String, String], zone))
      out.fill(rows, cap, sep, end) { r => gen.write(r); gen.flush() }
    }
  }

  /** One line per row: `line` over the DataFrame's own Row
    * deserializer, the one `df.map` and `df.collect` use. It is built
    * here on the driver from the DataFrame's session, so session
    * settings such as `spark.sql.datetime.java8API.enabled` decide the
    * Row's value classes. `end` goes after each line. */
  def lines(df: DataFrame, line: Row => String, end: String): Encoder = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val toRow = ds.sparkSession.withActive {
      ds.exprEnc.resolveAndBind(ds.queryExecution.analyzed.output,
        ds.sparkSession.sessionState.analyzer).createDeserializer()
    }
    (rows, cap) => {
      val out = new Chunk
      out.fill(rows, cap, "", end)(r => out.text.write(line(toRow(r))))
    }
  }

  /** A chunk under construction: text written to `text` lands in
    * `bytes` as UTF-8 on each flush. */
  private final class Chunk {
    private val bytes = new ByteArrayOutputStream(8192)
    val text = new OutputStreamWriter(bytes, UTF_8)

    def fill(rows: Iterator[InternalRow], cap: Long, sep: String, end: String)
            (write: InternalRow => Unit): Option[Array[Byte]] = {
      var first = true
      while (rows.hasNext) {
        if (!first) text.write(sep)
        write(rows.next())
        text.write(end)
        text.flush()
        if (bytes.size > cap) return None
        first = false
      }
      Some(bytes.toByteArray)
    }
  }
}
