package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoder, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonGenerator, JacksonParser}
import org.apache.spark.unsafe.types.UTF8String

/** A value of `T` <-> one JSON object in `T`'s encoder schema: the text
  * `to_json(struct(col("*")))` writes for the value's row, read back as
  * `from_json` reads it. It runs the Jackson generator and parser those
  * expressions evaluate, directly on the calling thread, so no Dataset
  * query is planned per call. The encoder is resolved once; its serializer
  * and deserializer reuse their output rows, so calls take a lock around
  * them (callers may encode and decode from several threads). The Jackson
  * classes are private[sql], so — like [[ColumnRefs]] — this shim lives
  * under the sql package only to reach them.
  */
final class JsonCodec[T](enc: Encoder[T]) {
  private val encoder = encoderFor(enc).resolveAndBind()
  private val schema = encoder.schema
  // to_json's options: none given, session time zone (T has no time fields)
  private val options = new JSONOptions(Map.empty[String, String], "UTC")
  private val toRow = encoder.createSerializer()
  private val fromRow = encoder.createDeserializer()
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)

  def encode(v: T): String = {
    val out = new java.io.StringWriter
    val gen = new JacksonGenerator(schema, out, options)
    try synchronized(gen.write(toRow(v))) finally gen.close()
    out.toString
  }

  /** The value of `json`, or None when it is malformed or lacks a field at
    * any depth (a field the JSON lacks parses as null, and no field of `T`
    * may be null). */
  def decode(json: String): Option[T] = {
    def complete(v: Any): Boolean = v match {
      case null => false
      case r: Row => r.toSeq.forall(complete)
      case xs: scala.collection.Seq[_] => xs.forall(complete)
      case _ => true
    }
    try new JacksonParser(schema, options, allowArrayAsStructs = false)
      .parse(json, CreateJacksonParser.string, UTF8String.fromString).headOption
      .filter(r => complete(toScala(r)))
      .map(r => synchronized(fromRow(r)))
    catch { case NonFatal(_) => None }
  }
}
