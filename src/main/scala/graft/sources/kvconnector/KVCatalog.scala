package graft.sources.kvconnector

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.GraftFs

/** Catalog plumbing for storage-partitioned joins over graft-kv stores
  * (r11 verdict #5).
  *
  * A path-based `spark.read.format("graft-kv")` relation has NO catalog,
  * and Spark resolves a scan's reported `bucket(n, k)` transform through
  * the relation's FunctionCatalog — without one, the reported
  * KeyGroupedPartitioning silently degrades to unknown and every
  * store-to-store join still plans two exchanges. Every graft session
  * registers this catalog as `graftkv` (`GraftExtensions.sessionDefaults`),
  * and reading `spark.table("graftkv.`/warehouse/store`")` gives the
  * same KVTable the format() path builds, plus the function identity
  * both join sides must share: with
  * `spark.sql.sources.v2.bucketing.enabled=true`, two bucketed stores
  * (KVSegmentStore.write's `bucket` layout, same bucket count)
  * equi-join on k with ZERO Exchange on either side — the co-location
  * kv_bucket_join proves through parquet bucketing, made native to the
  * DSv2 path.
  *
  * The catalog is deliberately read-oriented: the identifier IS the
  * store path (one quoted name part), loadTable just wraps it, and
  * writes keep going through `df.write.format("graft-kv")` /
  * KVSegmentStore — table DDL through the catalog is unsupported.
  */
class KVCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = "graftkv"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  /** The store path: the identifier's single (quoted) name part;
    * namespace parts, if the caller used unquoted dots, re-join with
    * '.' — a path cannot be enumerated, only named. */
  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def loadTable(ident: Identifier): Table = new KVTable(pathOf(ident))
  override def tableExists(ident: Identifier): Boolean =
    GraftFs.readText(KVSegmentStore.activeConf,
      GraftFs.child(pathOf(ident), KVSegmentStore.ManifestFile)).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // paths are named, not enumerated
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graftkv is read-oriented: write via df.write.format(\"graft-kv\")")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graftkv: ALTER TABLE unsupported")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graftkv: DROP TABLE unsupported")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graftkv: RENAME TABLE unsupported")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") KVBucketFunction
    else throw new UnsupportedOperationException(
      s"graftkv has no function ${ident.toString}")
}

/** `bucket(n, k)`: the partitioner the `bucket` layout of
  * [[KVWriteBuilder]] writes with — pmod(murmur3_42(k), n), i.e.
  * exactly the Spark partition id `repartition(n, col)` assigns — bound
  * here as a V2
  * ScalarFunction so both sides of a storage-partitioned join resolve
  * the SAME function identity (TransformExpression compares
  * canonicalName). SPJ itself never evaluates it (partition keys come
  * from the segments); produceResult exists so an engine that chooses
  * to shuffle ONE side by this function gets the true bucket id. */
object KVBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, k): pmod(murmur3_42(k), n) — the graft-kv bucket layout's partitioner"

  override def bind(inputType: StructType): BoundFunction = {
    val types = inputType.fields.map(_.dataType)
    require(types.length == 2 && types(0) == IntegerType && types(1) == BinaryType,
      s"bucket expects (int numBuckets, binary k), got ${inputType.simpleString}")
    Bound
  }

  object Bound extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, BinaryType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft-kv.bucket"
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val k = input.getBinary(1)
      Integer.valueOf(KVBucketFunction.bucketOf(k, n))
    }
  }

  /** pmod(murmur3 seed-42 over the key bytes, n) — bit-equal to
    * HashPartitioning's partition id for a single binary column. */
  def bucketOf(k: Array[Byte], n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(k, BinaryType, 42L).toInt
    java.lang.Math.floorMod(h, n)
  }
}
