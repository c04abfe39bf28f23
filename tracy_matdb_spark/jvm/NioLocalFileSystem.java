package tracy_matdb_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/** LocalFileSystem (checksummed: writes .crc files) over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
