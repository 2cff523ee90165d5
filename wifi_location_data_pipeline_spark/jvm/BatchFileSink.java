package wifi_location_data_pipeline_spark.jvm;

import java.util.Map;
import java.util.UUID;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SQLContext;
import org.apache.spark.sql.execution.FileSourceScanExec;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.streaming.Sink;
import org.apache.spark.sql.sources.StreamSinkProvider;
import org.apache.spark.sql.streaming.OutputMode;
import scala.collection.immutable.Seq;

/**
 * A streaming sink for a query that is one file scan: each micro-batch's
 * input files (the files the file source logged for the batch, read from the
 * scan node of the batch's executed plan) go to a callback, and the batch
 * itself is never run here, so no RDD is built. The callback returns the
 * rows it read, which the sink adds to the scan's numOutputRows (what
 * progress reports as numInputRows), or -1 when it ran the batch frame
 * itself, whose scan then counted its own rows.
 *
 * createSink receives string options only, so the callback is passed through
 * a static registry under the "callback" option: register it before
 * DataStreamWriter.start and release it once start returns (createSink runs
 * inside start). The sink holds the callback for the life of its query.
 */
public class BatchFileSink implements StreamSinkProvider {

  public interface Callback {
    long call(long batchId, String[] files, Dataset<Row> batch);
  }

  private static final Map<String, Callback> CALLBACKS = new ConcurrentHashMap<>();

  public static String register(Callback callback) {
    String id = UUID.randomUUID().toString();
    CALLBACKS.put(id, callback);
    return id;
  }

  public static void release(String id) {
    CALLBACKS.remove(id);
  }

  public static int registered() {
    return CALLBACKS.size();
  }

  @Override
  public Sink createSink(SQLContext sqlContext, scala.collection.immutable.Map<String, String> options,
      Seq<String> partitionColumns, OutputMode outputMode) {
    Callback callback = options.contains("callback") ? CALLBACKS.get(options.apply("callback")) : null;
    if (callback == null) {
      throw new IllegalArgumentException("no callback registered under option 'callback'");
    }
    return new Sink() {
      @Override
      public void addBatch(long batchId, Dataset<Row> data) {
        SparkPlan plan = ((org.apache.spark.sql.classic.Dataset<Row>) data).queryExecution().executedPlan();
        Seq<SparkPlan> leaves = plan.collectLeaves();
        if (leaves.size() != 1 || !(leaves.apply(0) instanceof FileSourceScanExec)) {
          throw new IllegalStateException("expected one file scan in the micro-batch plan:\n" + plan);
        }
        FileSourceScanExec scan = (FileSourceScanExec) leaves.apply(0);
        long rows = callback.call(batchId, scan.relation().location().inputFiles(), data);
        if (rows >= 0) {
          scan.metrics().apply("numOutputRows").add(rows);
        }
      }

      @Override
      public String toString() {
        return "BatchFileSink";
      }
    };
  }
}
