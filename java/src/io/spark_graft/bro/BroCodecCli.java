/* Tiny stdin->stdout driver so tests/test_jvm_codec.py can prove
 * JVM<->Python interop without a Spark session: `compress-*` wraps
 * stdin in the codec's CompressionOutputStream, `decompress-*` in its
 * CompressionInputStream. */
package io.spark_graft.bro;

import java.io.IOException;
import java.io.InputStream;
import java.io.OutputStream;

import org.apache.hadoop.io.compress.CompressionCodec;
import org.apache.hadoop.io.compress.CompressionInputStream;
import org.apache.hadoop.io.compress.CompressionOutputStream;

public final class BroCodecCli {
  public static void main(String[] args) throws IOException {
    InputStream in = System.in;
    OutputStream out = System.out;
    byte[] buf = new byte[8192];
    String mode = args.length == 1 ? args[0] : "";
    // `compress-q0`/`decompress-q0`: quality-0 Huffman writes, full
    // RFC 7932 reads (every mode decodes any brotli stream); `-lz`
    // the same codec with bro.quality=1 (greedy LZ77 writes); `-d5`
    // with bro.quality=5 (LZ77 + static-dictionary writes); `-l7` with
    // bro.quality=7 (dictionary + one-position lazy matching, r9)
    CompressionCodec codec =
        mode.endsWith("-lz") ? new BroHuffmanCodec(1)
            : mode.endsWith("-d5") ? new BroHuffmanCodec(5)
            : mode.endsWith("-l7") ? new BroHuffmanCodec(7)
            : new BroHuffmanCodec();
    if (mode.equals("compress-q0")
        || mode.equals("compress-lz") || mode.equals("compress-d5")
        || mode.equals("compress-l7")) {
      CompressionOutputStream cos = codec.createOutputStream(out);
      int n;
      while ((n = in.read(buf)) > 0) cos.write(buf, 0, n);
      cos.finish();
      out.flush();
    } else if (mode.equals("decompress-q0")
        || mode.equals("decompress-lz") || mode.equals("decompress-d5")
        || mode.equals("decompress-l7")) {
      CompressionInputStream cis = codec.createInputStream(in);
      int n;
      while ((n = cis.read(buf, 0, buf.length)) > 0) out.write(buf, 0, n);
      out.flush();
    } else {
      System.err.println(
          "usage: BroCodecCli compress-q0|"
              + "decompress-q0|compress-lz|decompress-lz|"
              + "compress-d5|decompress-d5|compress-l7|decompress-l7");
      System.exit(2);
    }
  }
}
