package graft

import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON mapper for the files the engine reads and writes itself
  * (Bench's bench_detail.json and stdout line, Verify's oracle_sql.json):
  * the Jackson that Spark already bundles, with its Scala module. Trailing
  * tokens after the root value fail the parse, so a hand-edited file with
  * junk appended counts as unparseable instead of half-read. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()
}
