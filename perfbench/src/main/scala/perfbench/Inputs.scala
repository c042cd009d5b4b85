package perfbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.source.Message
import org.apache.spark.sql.types._

/** One generated message as `gen.py` writes it. `kind` is the generator's
  * label (clean / missing / extra / format) and is never sent to graft. */
final case class InMsg(seq: Long, queue: Int, bornMs: Long, kind: String,
                       tag: String, props: Map[String, String], body: String) {
  def toMessage(born: Long): Message = Message(born, s"k$seq", tag, props, body)
  def clean: Boolean = kind == "clean"
}

object Inputs {
  private val mapper = new ObjectMapper()

  def manifest(dir: Path): JsonNode = mapper.readTree(dir.resolve("manifest.json").toFile)

  def parse(line: String): InMsg = {
    val f = line.split("\t", 7)
    val props =
      if (f(5).isEmpty) Map.empty[String, String]
      else f(5).split(";").map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    InMsg(f(0).toLong, f(1).toInt, f(2).toLong, f(3), f(4), props, f(6))
  }

  def messages(file: Path): Array[InMsg] = Files2.readLines(file).map(parse).toArray

  /** Typed layout of a message body (`gen.py`'s `body`). */
  val BodySchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("user", StringType),
    StructField("amount", DoubleType), StructField("qty", IntegerType),
    StructField("note", StringType)))
}
