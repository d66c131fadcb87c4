package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The one table-properties helper behind every version-fenced store
  * (IndexStore, TextIndexStore, FencedStore): fence correctness lives
  * in exactly how these strings are quoted and read back, so three
  * drifting private copies were the same risk the bm25Score extraction
  * removed — a fix to quoting or error wording must reach every store at
  * once. */
private[graft] object CatalogProps {

  def setProps(spark: SparkSession, table: String,
               props: Map[String, String]): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")

  /** Read one property, failing by name (with the owning store named by
    * `owner`) when absent. */
  def prop(spark: SparkSession, table: String, key: String,
           owner: String): String = {
    val rows = spark.sql(s"SHOW TBLPROPERTIES $table")
      .filter(col("key") === key).collect()
    require(rows.nonEmpty,
      s"table $table has no '$key' property — not built by $owner?")
    rows(0).getString(1)
  }

  /** Read one property if present (no existence requirement). */
  def propOption(spark: SparkSession, table: String,
                 key: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES $table")
      .filter(col("key") === key).collect()
      .headOption.map(_.getString(1))

  /** One-call content fingerprint for build-if-absent temp/table keys:
    * stable across runs while the source file is unchanged, different
    * the moment it is replaced. Used by every ensure*Store helper and
    * fmt_roundtrip — the key derivation must evolve in one place. */
  def contentKey(dir: String, fileName: String): String = {
    val src = new java.io.File(s"$dir/$fileName")
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        s"$dir:${src.lastModified}:${src.length}").toLong & 0xffffffffL)
  }
}
