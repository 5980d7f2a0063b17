package graft.core

import org.apache.spark.sql.SparkSession

/** Reads of the numeric and boolean `spark.graft.*` session confs. An
  * unset key takes its default; a set value that does not parse fails
  * at the read with an IllegalArgumentException naming the key and the
  * value — never a bare NumberFormatException, and never a
  * silent fall-through to the default behaviour. */
object Conf {
  def long(spark: SparkSession, key: String, default: Long): Long =
    parsed(spark, key, "an integer")(_.toLongOption).getOrElse(default)

  def int(spark: SparkSession, key: String, default: Int): Int =
    parsed(spark, key, "an integer")(_.toIntOption).getOrElse(default)

  def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    parsed(spark, key, "true or false")(_.toBooleanOption).getOrElse(default)

  private def parsed[T](spark: SparkSession, key: String, expected: String)(
      parse: String => Option[T]): Option[T] =
    spark.conf.getOption(key).map { v =>
      parse(v.trim).getOrElse(throw new IllegalArgumentException(
        s"invalid value '$v' for $key: expected $expected"))
    }
}
