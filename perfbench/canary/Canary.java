// Machine-speed canary: a fixed amount of JVM work on every usable CPU, in
// a JVM of its own that shares nothing with the program under test.
//
//     java -cp <classes> Canary <threads>
//
// It warms its JIT, prints "ready", then runs one rep for every line it
// reads on stdin and answers with one line: the CPU time of each thread in
// milliseconds. It exits at end of input. A rep runs the same work on every
// thread at once: hash-map inserts and lookups of boxed keys, a sort of a
// long[] and string building, the kinds of work Spark's driver and
// executors spend their CPU on. CPU time, not wall time: a thread the host
// deschedules for a moment does not count that moment.

import java.io.BufferedReader;
import java.io.InputStreamReader;
import java.lang.management.ManagementFactory;
import java.lang.management.ThreadMXBean;
import java.util.Arrays;
import java.util.HashMap;
import java.util.SplittableRandom;

public final class Canary {
    static final int WARM = 3;

    static long work(long seed) {
        SplittableRandom rng = new SplittableRandom(seed);
        HashMap<Long, long[]> map = new HashMap<>();
        for (int i = 0; i < 100_000; i++) {
            map.put(rng.nextLong(1_000_000), new long[] {i, i * 31L});
        }
        long acc = 0;
        for (int i = 0; i < 200_000; i++) {
            long[] v = map.get(rng.nextLong(1_000_000));
            if (v != null) {
                acc += v[1];
            }
        }
        long[] xs = new long[500_000];
        for (int i = 0; i < xs.length; i++) {
            xs[i] = rng.nextLong();
        }
        Arrays.sort(xs);
        acc += xs[xs.length / 2];
        StringBuilder sb = new StringBuilder();
        for (int i = 0; i < 50_000; i++) {
            sb.setLength(0);
            sb.append("row-").append(i).append('|').append(xs[i] % 977);
            acc += sb.toString().hashCode();
        }
        return acc;
    }

    static String rep(int threads, ThreadMXBean mx) throws InterruptedException {
        long[] out = new long[threads];
        double[] ms = new double[threads];
        Thread[] ts = new Thread[threads];
        for (int k = 0; k < threads; k++) {
            final int id = k;
            ts[k] = new Thread(() -> {
                long t0 = mx.getCurrentThreadCpuTime();
                out[id] = work(1_000L * id + 7);
                ms[id] = (mx.getCurrentThreadCpuTime() - t0) / 1e6;
            });
            ts[k].start();
        }
        for (Thread t : ts) {
            t.join();
        }
        StringBuilder sb = new StringBuilder();
        for (int k = 0; k < threads; k++) {
            sink ^= out[k];
            sb.append(k == 0 ? "" : " ").append(ms[k]);
        }
        return sb.toString();
    }

    static long sink;

    public static void main(String[] args) throws Exception {
        int threads = Integer.parseInt(args[0]);
        ThreadMXBean mx = ManagementFactory.getThreadMXBean();
        for (int r = 0; r < WARM; r++) {
            rep(threads, mx);
        }
        System.out.println("ready");
        System.out.flush();
        BufferedReader in = new BufferedReader(new InputStreamReader(System.in));
        while (in.readLine() != null) {
            System.out.println(rep(threads, mx));
            System.out.flush();
        }
        System.err.println(sink);
    }
}
