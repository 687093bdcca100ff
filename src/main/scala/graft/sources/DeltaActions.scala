package graft.sources

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.types.StructType

/** The Delta log's actions (delta.io PROTOCOL.md "Actions"), declared
  * once: every commit line [[DeltaWrite]] publishes is [[json]] of a
  * [[SingleAction]], every checkpoint row is the same class under its
  * Spark [[encoder]], and [[DeltaRead]] parses commits under that
  * encoder's [[schema]] — the "Checkpoint Schema" of the protocol. One
  * row type for both, as delta-spark's `SingleAction`. */
object DeltaActions {

  case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)

  case class Format(provider: String = "parquet", options: Map[String, String] = Map.empty)

  /** Fields in the protocol's order; build it with named arguments.
    * `id` is the table's identifier: the creating commit mints it and
    * every later metaData action carries it ([[DeltaWrite]]). */
  case class Metadata(id: String,
      format: Format = Format(), schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Option[Long] = None)

  /** `path` is percent-encoded; a null partition value is the protocol's
    * null partition. */
  case class Add(path: String, partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean, stats: Option[String] = None,
      deletionVector: Option[DeletionVectors.Descriptor] = None)

  case class Remove(path: String, deletionTimestamp: Long, dataChange: Boolean)

  /** One log line / checkpoint row: exactly one field is non-null. */
  case class SingleAction(add: Add = null, remove: Remove = null,
      metaData: Metadata = null, protocol: Protocol = null)

  /** `_last_checkpoint`'s content. */
  case class LastCheckpoint(version: Long, size: Long)

  val encoder: Encoder[SingleAction] = Encoders.product[SingleAction]

  val schema: StructType = encoder.schema

  /** Absent (None) and null fields are omitted; map entries keep null
    * values and are written in key order. */
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .defaultPropertyInclusion(
      JsonInclude.Value.construct(JsonInclude.Include.NON_ABSENT, JsonInclude.Include.ALWAYS))
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .build()

  /** One JSON object on one line. */
  def json(value: Product): String = mapper.writeValueAsString(value)
}
