package graft.lake

import java.util.Base64
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.crypto.KeyAccessDeniedException
import org.apache.parquet.crypto.keytools.LocalWrapKmsClient
import org.apache.spark.sql.SparkSession

/** Parquet Modular Encryption for lake tables — the `ENCRYPTED` flag both
  * the reference and upstream DuckLake leave unimplemented
  * (docs/ducklake_feature_coverage.md:63 "Encryption … [ ]").
  *
  * Catalog surface: the option `encrypted` (true/1; table > schema >
  * global scoping like every option, A23) makes every data AND delete
  * file of the table an encrypted-footer parquet file (magic `PARE`, no
  * plaintext metadata, AES-GCM modules). The machinery is parquet-hadoop's
  * own PME stack — `PropertiesDrivenCryptoFactory` + envelope encryption
  * (per-module data keys wrapped by key-encryption keys wrapped by a
  * master key; `KeyToolkit` double wrapping, key material inline in the
  * footer) — NOT a bespoke cipher. At 100 TB this is the only shape that
  * works: per-file random DEKs mean no key-per-byte fan-out, the KMS sees
  * only O(writers) wrap/unwrap calls (KEK caching), and any engine that
  * speaks PME (Spark, Trino, Iceberg…) can read the files given key
  * access.
  *
  * Master keys come from a [[org.apache.parquet.crypto.keytools.KmsClient]].
  * The default [[ConfKmsClient]] resolves them from the Hadoop conf key
  * `graft.encryption.keys` (`keyId:base64,keyId2:base64`) — the
  * local-dev/test shape; a production deployment points the option
  * `encryption_kms_class` at a client for its real KMS and the rest of
  * the stack is unchanged (the same seam Spark's own columnar-encryption
  * docs prescribe).
  *
  * Options:
  *   - `encrypted`              — true/1 enables encryption for new files
  *   - `encryption_key`         — master-key id (default `graft0`)
  *   - `encryption_kms_class`   — KmsClient impl (default [[ConfKmsClient]])
  */
object LakeEncryption {
  val KeysConf = "graft.encryption.keys"
  val DefaultKeyId = "graft0"

  private val FactoryClassProp = "parquet.crypto.factory.class"
  private val KmsClientClassProp = "parquet.encryption.kms.client.class"
  private val FactoryClass =
    "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory"

  private[lake] def isTrue(v: String): Boolean = v == "true" || v == "1"

  /** Per-write parquet options for an encrypted table: uniform encryption
    * (footer + every column under one master-key envelope). Returns empty
    * when the table is not encrypted. */
  def writeOptions(st: Meta.CatalogState, tableId: Long, s: Long): Map[String, String] =
    if (!st.optionAt(tableId, "encrypted", s).exists(isTrue)) Map.empty
    else Map(
      FactoryClassProp -> FactoryClass,
      KmsClientClassProp -> st.optionAt(tableId, "encryption_kms_class", s)
        .getOrElse(classOf[ConfKmsClient].getName),
      "parquet.encryption.uniform.key" ->
        st.optionAt(tableId, "encryption_key", s).getOrElse(DefaultKeyId))

  /** Idempotently install the DECRYPTION side into the session's Hadoop
    * conf so the lake scan's readers (data files and delete files) pick it
    * up. Safe for plaintext tables: the factory engages only on
    * files that actually carry encryption metadata. Never overwrites a
    * factory/client the user already configured. */
  def ensureReadConf(spark: SparkSession, kmsClass: Option[String] = None): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    if (hc.get(FactoryClassProp) == null) hc.set(FactoryClassProp, FactoryClass)
    if (hc.get(KmsClientClassProp) == null)
      hc.set(KmsClientClassProp, kmsClass.getOrElse(classOf[ConfKmsClient].getName))
  }

  /** install read conf iff the table is encrypted (scan-path hook) */
  def ensureReadConfFor(spark: SparkSession, st: Meta.CatalogState,
      tableId: Long, s: Long): Unit =
    if (st.optionAt(tableId, "encrypted", s).exists(isTrue))
      ensureReadConf(spark, st.optionAt(tableId, "encryption_kms_class", s))
}

/** Conf-resolved master keys (the local/test KMS shape): base64 key bytes
  * under [[LakeEncryption.KeysConf]] as `id:base64[,id2:base64…]`.
  * [[LocalWrapKmsClient]] does the actual AES wrap/unwrap locally — the
  * "server" is only a master-key lookup, which is exactly the contract a
  * real KMS-backed subclass replaces. */
class ConfKmsClient extends LocalWrapKmsClient {
  private var keys: Map[String, Array[Byte]] = Map.empty

  override protected def initializeInternal(): Unit = {
    val conf: Configuration = hadoopConfiguration
    val listed = Option(conf.get(LakeEncryption.KeysConf)).getOrElse("")
    keys = listed.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf(':')
      require(i > 0, s"${LakeEncryption.KeysConf} entries must be id:base64, got '$kv'")
      kv.substring(0, i) -> Base64.getDecoder.decode(kv.substring(i + 1))
    }.toMap
  }

  override protected def getMasterKeyFromServer(keyIdentifier: String): Array[Byte] =
    keys.getOrElse(keyIdentifier,
      throw new KeyAccessDeniedException(
        s"no master key '$keyIdentifier' in ${LakeEncryption.KeysConf}"))
}
