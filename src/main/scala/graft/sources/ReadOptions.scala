package graft.sources

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Read options that every connector parses the same way. */
private[sources] object ReadOptions {
  /** A positive integer option, None when unset. Zero, a negative number or
    * a non-number fails here, when the scan builder is created, before any
    * partition is planned or read. */
  def positiveInt(options: CaseInsensitiveStringMap, connector: String, key: String): Option[Int] =
    Option(options.get(key)).map(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$connector: $key must be a positive integer, got '$v'")))
}
