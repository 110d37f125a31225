package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The repo-wide oracle-reproducible content hash: the first 15 hex
  * chars of md5(salt ++ key-as-string) as a 60-bit non-negative long.
  * DuckDB mirror: `('0x' || substr(md5(salt || CAST(k AS VARCHAR)),
  * 1, 15))::BIGINT`. Every deterministic assignment in the engine
  * (folds, batches, shards, samples) derives from this ONE expression
  * so a convention change cannot silently fork between call sites.
  */
object Hashing {

  def h60(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** h60 reduced mod n — the uniform bucket form. */
  def bucket(key: Column, salt: String, n: Long): Column =
    pmod(h60(key, salt), lit(n))

  /** ALS factor init draw in [-0.1, 0.1]: (h60 mod 2001 − 1000) / 10⁴ —
    * integer-derived, so both engines produce identical doubles. */
  def initDraw(key: Column, salt: String): Column =
    (pmod(h60(key, salt), lit(2001L)) - lit(1000L))
      .cast("double") / lit(10000.0)

  /** DuckDB mirror of [[initDraw]] over the SQL key expression `key`. */
  def sqlInitDraw(key: String, salt: String): String =
    s"CAST((('0x' || substr(md5('$salt' || CAST($key AS VARCHAR))," +
      s" 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE) / 10000.0"
}
