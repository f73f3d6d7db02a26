/*
 * The `file:` filesystem that session.get_spark registers
 * (spark.hadoop.fs.file.impl): Hadoop's LocalFileSystem, except that
 * setPermission sets the 9 rwx bits through java.nio instead of forking
 * `chmod`.
 *
 * Without libhadoop, RawLocalFileSystem.setPermission runs `chmod` in a
 * child process, and it is called for every mkdir and every file create,
 * so a partitioned Parquet write forks once per directory and per file
 * (data and .crc). Files.setPosixFilePermissions is one chmod(2) call.
 * Modes it cannot reproduce go to Hadoop's own method: a requested
 * sticky bit, and a path that already carries setuid, setgid or sticky
 * bits (a numeric `chmod 0755` keeps a directory's setuid/setgid bits,
 * chmod(2) with 0755 clears them). With libhadoop loaded Hadoop calls
 * chmod(2) itself, so that case goes to Hadoop's method too.
 *
 * Rebuild the committed jar after editing this file (from the repo root;
 * tests/test_local_fs.py checks the jar against this source):
 *
 *   J=$(python -c "import os, pyspark; print(os.path.dirname(pyspark.__file__))")/jars
 *   rm -rf /tmp/nio-fs && javac --release 17 -cp "$J/*" -d /tmp/nio-fs \
 *       tuatara_spark/jvm/NioLocalFileSystem.java
 *   jar --create --date=2026-01-01T00:00:00Z \
 *       --file tuatara_spark/jvm/tuatara-fs.jar -C /tmp/nio-fs .
 */
package tuatara.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with a fork-free setPermission. */
  public static class Raw extends RawLocalFileSystem {

    // PosixFilePermission is declared owner r/w/x, group r/w/x, others
    // r/w/x: ordinal i is mode bit 1 << (8 - i)
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      java.nio.file.Path file = pathToFile(p).toPath();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0
          || ((Integer) Files.getAttribute(file, "unix:mode") & 07000) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << (8 - i))) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(file, perms);
    }
  }
}
