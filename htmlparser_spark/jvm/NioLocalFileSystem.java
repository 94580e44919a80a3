package htmlparser_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local file system, with permissions set in-process.
 * Without libhadoop, RawLocalFileSystem.setPermission runs a chmod child
 * process for every directory, data file and .crc sidecar it creates.
 * Bound to file: by spark.hadoop.fs.file.impl (htmlparser_spark.session).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {  // not expressible in NIO
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString()));
    }
  }
}
