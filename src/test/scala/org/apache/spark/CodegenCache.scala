package org.apache.spark

import org.apache.spark.util.NonFateSharingCache

/** Spark's JVM-wide cache of generated classes (`CodeGenerator.cache`), a
  * private field, hence reflection; its cache type is `private[spark]`,
  * hence this package. */
object CodegenCache {
  private def cache: NonFateSharingCache[_, _] = {
    val field = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      .getDeclaredField("cache")
    field.setAccessible(true)
    field.get(null).asInstanceOf[NonFateSharingCache[_, _]]
  }

  /** Drops every cached class, so the next piece of work compiles each
    * class it needs from nothing. */
  def clear(): Unit = cache.invalidateAll()

  /** Classes in the cache now. */
  def size: Long = cache.size
}
