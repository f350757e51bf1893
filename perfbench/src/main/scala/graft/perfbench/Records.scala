package graft.perfbench

import java.io.{BufferedWriter, Writer}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The records the benchmark JVM hands to `run.py`: one JSON object per
  * line, flushed per record so a JVM that dies mid-run still leaves
  * every finished record behind. */
final class Records(w: Writer) {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private val out = new BufferedWriter(w)
  def emit(fields: (String, Any)*): Unit = {
    out.write(json.writeValueAsString(fields.toMap))
    out.write('\n')
    out.flush()
  }
  def close(): Unit = out.close()
}
