package graft

import java.nio.file.Path
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, ObjectWriter, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec: every document the program writes or reads — the
  * run result, the webhook alert, the ledger's DQ/verify objects and
  * watermarks, Bench's lines and files, Verify's files — goes through this
  * mapper. Case class fields are written in declaration order under
  * snake_case names (`nonnullOk` → `nonnull_ok`); map keys as they are. */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** One line with a space after every `:` and `,` (`{"k": "v", "n": 1}`),
    * no indentation: the format of the run result and the alert body. */
  private val spacedWriter: ObjectWriter = {
    val nop = new DefaultPrettyPrinter.NopIndenter
    mapper.writer(new DefaultPrettyPrinter(Separators.createDefaultInstance()
        .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
        .withObjectEntrySpacing(Separators.Spacing.AFTER)
        .withObjectEmptySeparator(""))
      .withObjectIndenter(nop).withArrayIndenter(nop))
  }

  /** Compact, `{"k":"v","n":1}`. */
  def compact(v: Any): String = mapper.writeValueAsString(v)
  def spaced(v: Any): String = spacedWriter.writeValueAsString(v)
  def write(file: Path, v: Any): Unit = mapper.writeValue(file.toFile, v)
  def readTree(file: Path): JsonNode = mapper.readTree(file.toFile)
  def readTree(doc: String): JsonNode = mapper.readTree(doc)
}
