package org.sparkgraft.fs;

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
 * Hadoop's checksummed local file system whose setPermission is a syscall.
 *
 * Without NativeIO, RawLocalFileSystem.setPermission runs
 * Shell.execCommand("chmod", ...) for every file, .crc sidecar and
 * directory a write creates: one fork of jspawnhelper + chmod each,
 * hundreds per run_pipeline call. Here the same 9 rwx bits go through
 * java.nio.file.Files.setPosixFilePermissions (one chmod(2) in the JVM).
 * A sticky bit, which nio cannot express, still goes to Hadoop's own path.
 *
 * Everything else — the ChecksumFileSystem layer and its .crc sidecars,
 * the modes Hadoop computes (0644 files, 0755 dirs under umask 022), the
 * commit protocol's renames — is LocalFileSystem's, unchanged.
 */
public class NioLocalFileSystem extends LocalFileSystem {

    public NioLocalFileSystem() {
        super(new Raw());
    }

    /** RawLocalFileSystem with the fork-free setPermission. */
    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission permission)
                throws IOException {
            if (permission.getStickyBit()) {
                super.setPermission(p, permission);
                return;
            }
            Files.setPosixFilePermissions(pathToFile(p).toPath(),
                                          rwxBits(permission.toShort()));
        }
    }

    /** The low 9 bits of a mode, in PosixFilePermission's declared order
     * (OWNER_READ = 0400 ... OTHERS_EXECUTE = 0001). */
    static Set<PosixFilePermission> rwxBits(short mode) {
        Set<PosixFilePermission> out =
            EnumSet.noneOf(PosixFilePermission.class);
        for (PosixFilePermission p : PosixFilePermission.values()) {
            if ((mode & (0400 >> p.ordinal())) != 0) {
                out.add(p);
            }
        }
        return out;
    }
}
