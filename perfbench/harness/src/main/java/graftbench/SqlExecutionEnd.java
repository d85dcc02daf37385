package graftbench;

import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;

/** The action name ("localCheckpoint", "collect", "command", ...) and
  * the query execution that Spark attaches to an SQL-execution-end
  * event. Both are public to Java but package-private to Scala callers
  * outside Spark, hence this bridge. */
public final class SqlExecutionEnd {
  private SqlExecutionEnd() {}

  public static String name(SparkListenerSQLExecutionEnd e) {
    scala.Option<String> n = e.executionName();
    return n.isDefined() ? n.get() : "";
  }

  public static QueryExecution qe(SparkListenerSQLExecutionEnd e) {
    return e.qe();
  }
}
