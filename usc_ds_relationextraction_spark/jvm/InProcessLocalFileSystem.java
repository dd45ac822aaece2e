package usc_ds_relationextraction_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, setting permissions with a
 * system call instead of a {@code chmod} process.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem} spawns
 * {@code chmod} for every directory it makes and for most files it
 * creates: about 290 processes per batch build of the KG warehouse.  Each
 * spawn clones the Spark JVM, so for a moment the JVM's whole resident
 * set appears twice in its process tree.  Here the same mode is set
 * in-process; a sticky bit, which the POSIX attribute view cannot
 * express, still takes Hadoop's path.
 */
public class InProcessLocalFileSystem extends LocalFileSystem {

  public InProcessLocalFileSystem() {
    super(new Raw());
  }

  /** The raw file system under the checksum layer. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString()));
    }
  }
}
