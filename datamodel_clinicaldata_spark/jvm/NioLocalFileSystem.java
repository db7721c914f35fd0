package datamodel_clinicaldata_spark.jvm;

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
 * Hadoop's local file system with the mode bits applied by a system call.
 *
 * Without the native Hadoop library, RawLocalFileSystem.setPermission runs
 * a chmod process, and every mkdirs and create calls it, so a partitioned
 * write forks once per directory, file and .crc file. This subclass sets
 * the same bits through java.nio. Only the sticky bit, which NIO cannot
 * express, still goes through Hadoop's own path.
 *
 * It replaces the class Spark's Hive jar registers for file: URIs,
 * ProxyLocalFileSystem, so it keeps that class's one rule as well: a
 * rename onto an existing file fails instead of replacing it.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  // PosixFilePermission's constants run from OWNER_READ (0400) down to
  // OTHERS_EXECUTE (0001), one mode bit each.
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
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
