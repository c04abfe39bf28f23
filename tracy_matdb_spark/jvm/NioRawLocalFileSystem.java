package tracy_matdb_spark.jvm;

import java.io.File;
import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem without a child process per call where libhadoop is
 * absent: the parent runs {@code chmod} for every setPermission and
 * {@code readlink} for every getFileLinkStatus. Here both are syscalls
 * with the same result.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  private static final int S_IFMT = 0170000;
  private static final int S_IFDIR = 0040000;

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path path = pathToFile(p).toPath();
    int current;
    try {
      current = (Integer) Files.getAttribute(path, "unix:mode");
    } catch (IOException e) {
      // a path that cannot be stat'ed: the parent's error
      super.setPermission(p, permission);
      return;
    }
    int mode = permission.toShort();
    if ((current & S_IFMT) == S_IFDIR) {
      // the parent's `chmod 0755` keeps a directory's setuid/setgid bits
      mode |= current & 06000;
    }
    // chmod(2) with the full mode, sticky bit included
    Files.setAttribute(path, "unix:mode", mode);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // the parent runs readlink on this same File: a non-link (or a missing
    // path) makes it return getFileStatus(f)
    if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
