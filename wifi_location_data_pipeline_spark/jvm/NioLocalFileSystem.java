package wifi_location_data_pipeline_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system ({@code file://}) with one change
 * in its raw layer. Without libhadoop, RawLocalFileSystem.setPermission runs
 * {@code /bin/chmod} as a child process, and every create and mkdirs calls
 * it: a few ms of fork and exec per file. Here the rwx bits are set through
 * java.nio in the JVM. A mode with bits beyond 0777 (sticky, setuid,
 * setgid) goes to Hadoop's own path. Umask, checksums and renames are
 * Hadoop's.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  public static class NioRawLocalFileSystem extends RawLocalFileSystem {

    // declaration order OWNER_READ .. OTHERS_EXECUTE is mode bit 8 .. bit 0
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
