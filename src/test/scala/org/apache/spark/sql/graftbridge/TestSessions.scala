package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Sessions a test cannot build through the public builder, which
  * always applies the context's configured `spark.sql.extensions`. */
object TestSessions {

  /** A session over `spark`'s context and shared state with no session
    * extensions: store tables plan through their DSv2 scan, as in an
    * application that never installed the graft extensions. Built
    * through the session's primary constructor (private in Scala, the
    * one that takes the extensions as given). */
  def withoutExtensions(spark: SparkSession): SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classOf[org.apache.spark.sql.classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }
}
