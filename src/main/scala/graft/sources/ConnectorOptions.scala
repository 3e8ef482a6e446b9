package graft.sources

import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one reader of `graft-cql`, `graft-es` and `graft-sync` options.
  * Every provider, table, scan builder and write builder reads its options
  * through it, so each option is parsed in one place and a bad value fails
  * with one message, `<connector>: <option> must be …, got '<v>'`, when the
  * scan or write is built: before any partition is planned or read, any
  * row is sent or any store is touched. Rules about what an accepted value
  * means (a page tag's shape, options that exclude each other) stay with
  * the connector that applies them. */
private[sources] final class ConnectorOptions(connector: String,
    options: java.util.Map[String, String]) {

  private val opts = new CaseInsensitiveStringMap(options)

  /** An optional free string, passed on unchanged. */
  def string(key: String): Option[String] = Option(opts.get(key))

  /** A required non-empty string; `fallback` stands in when `key` is unset. */
  def required(key: String, fallback: Option[String] = None): String =
    string(key).orElse(fallback).filter(_.nonEmpty)
      .getOrElse(refuse(key, "a non-empty string", string(key).getOrElse("")))

  def positiveInt(key: String): Option[Int] =
    parsed(key, "a positive integer", _.toIntOption.filter(_ > 0))

  def nonNegativeInt(key: String): Option[Int] =
    parsed(key, "a non-negative integer", _.toIntOption.filter(_ >= 0))

  def nonNegativeLong(key: String): Option[Long] =
    parsed(key, "a non-negative integer", _.toLongOption.filter(_ >= 0))

  def boolean(key: String): Option[Boolean] =
    parsed(key, "true or false", _.toBooleanOption)

  def oneOf(key: String, values: String*): Option[String] =
    parsed(key, values.mkString(" or "), Some(_).filter(values.contains))

  /** A required `host[:port]`; the port defaults to `defaultPort`. */
  def hostPort(key: String, defaultPort: Int): (String, Int) = {
    val v = required(key)
    val hp = v.split(":")
    (hp.head, hp.lift(1).fold(defaultPort)(_.toIntOption.filter(p => p > 0 && p < 65536)
      .getOrElse(refuse(key, "host or host:port with a port in 1-65535", v))))
  }

  /** A non-empty comma-separated list of column names. */
  def columnList(key: String): Option[Seq[String]] =
    parsed(key, "a comma-separated list of column names",
      v => Some(v.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty))

  /** A column option: a column of `schema`, of one of `types` if any are
    * given (the types the connector reads the column as). */
  def column(key: String, schema: StructType, types: DataType*): Option[String] =
    string(key).map(inSchema(key, _, schema, types: _*))

  /** Checks `name`, a column that option `key` names, against `schema`
    * and, if any are given, `types`. */
  def inSchema(key: String, name: String, schema: StructType,
      types: DataType*): String = {
    val field = schema.find(_.name == name).getOrElse(
      refuse(key, s"a column of [${schema.fieldNames.mkString(", ")}]", name))
    if (types.nonEmpty && !types.contains(field.dataType))
      refuse(key, s"a ${types.map(_.simpleString).mkString(" or ")} column",
        name, s" (${field.dataType.simpleString})")
    name
  }

  private def parsed[T](key: String, must: String, parse: String => Option[T]): Option[T] =
    string(key).map(v => parse(v).getOrElse(refuse(key, must, v)))

  private def refuse(key: String, must: String, got: String, detail: String = ""): Nothing =
    throw new IllegalArgumentException(s"$connector: $key must be $must, got '$got'$detail")
}
