// A fixed JVM job that measures how fast the host runs right now.
//
//     java Reference.java
//
// The benchmark runs it as a single-file source program, so the JVM also
// compiles it first. It uses the JDK only and touches nothing of the engine,
// so no change to the program can move it. Like the engine's work it starts
// a JVM, loads and JIT-compiles classes, and then hashes, sorts and builds
// strings. Its CPU time changes only with the host: on a shared host a busy
// neighbour slows every core it shares, and the engine's passes slow with it.
import java.util.Arrays;
import java.util.HashMap;

public class Reference {
    public static void main(String[] args) {
        long x = 42, acc = 0;
        HashMap<Long, Long> counts = new HashMap<>();
        for (int i = 0; i < 1_000_000; i++) {
            x = x * 6364136223846793005L + 1442695040888963407L;
            counts.merge(Math.floorMod(x, 200_000L), 1L, Long::sum);
        }
        long[] values = new long[2_000_000];
        for (int i = 0; i < values.length; i++) {
            x = x * 6364136223846793005L + 1442695040888963407L;
            values[i] = x;
        }
        Arrays.sort(values);
        StringBuilder sb = new StringBuilder();
        for (int i = 0; i < 300_000; i++) {
            sb.setLength(0);
            sb.append("k").append(i).append(':').append(values[i]);
            acc += sb.toString().hashCode();
        }
        acc += counts.size() + values[values.length / 2];
        System.out.println(acc);
    }
}
