// Hadoop's file:// FileSystem, with permissions set through java.nio.
//
// Without libhadoop (NativeIO unavailable), RawLocalFileSystem.setPermission
// forks a `chmod` process for every file, .crc file and directory a writer
// makes. Raw sets the same mode, which Hadoop computes before the call,
// with one chmod(2) through Files.setPosixFilePermissions. A mode with bits
// beyond 0777 (sticky, setuid, setgid) still goes to Hadoop. Checksums
// (.crc siblings) stay LocalFileSystem's. session.get_spark puts the jar on
// the driver classpath and names this class as fs.file.impl.
//
// FileContext (Spark's streaming checkpoints and state store) resolves
// fs.AbstractFileSystem.file.impl instead, whose default LocalFs wraps its
// own RawLocalFileSystem. Fs and RawFs mirror Hadoop's LocalFs/RawLocalFs
// pair over Raw, and session.get_spark names Fs there.
//
// Rebuild the jar after any edit, from the repository root; its manifest
// records this file's SHA-256, which tests/test_nio_localfs.py checks:
//   d=dicom_metadata_extractor_serverless_datalake_spark/jvm t=$(mktemp -d) &&
//   javac --release 17 -d "$t" "$d/NioLocalFileSystem.java" \
//     -cp "$(python -c 'import os,pyspark;print(os.path.dirname(pyspark.__file__))')/jars/*" &&
//   echo "Source-SHA256: $(sha256sum < "$d/NioLocalFileSystem.java" | cut -d' ' -f1)" > "$t/MANIFEST.MF" &&
//   jar --create --date=2000-01-01T00:00:00Z --file "$d/nio_local_fs.jar" \
//     --manifest "$t/MANIFEST.MF" -C "$t" dicom_metadata_extractor_serverless_datalake_spark &&
//   rm -r "$t"
package dicom_metadata_extractor_serverless_datalake_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE, the order of the bits 0400 .. 0001
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
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

  // LocalFs: checksums over RawFs. FileContext calls the (URI, Configuration)
  // constructor; like LocalFs it always serves file:///.
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  // RawLocalFs over Raw instead of a stock RawLocalFileSystem.
  public static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
