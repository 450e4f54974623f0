package graft.streaming;

import org.apache.parquet.hadoop.Footer;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.types.StructType;

/**
 * Java shim around ParquetFileFormat.readSchema, Spark's footer-to-schema
 * conversion: it takes its converter settings (binary as string, INT96,
 * NTZ inference, nanos as long) from the session as parquet schema
 * inference does, and prefers the schema a Spark-written footer stores.
 * The Scala compiler enforces its private[parquet] scope, but the JVM-level
 * method is public.
 */
final class ParquetSchemaJ {
    private ParquetSchemaJ() {}

    static scala.Option<StructType> readSchema(
            scala.collection.immutable.Seq<Footer> footers, SparkSession session) {
        return org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$.MODULE$
            .readSchema(footers, session);
    }
}
