import com.sun.management.HotSpotDiagnosticMXBean;
import java.lang.management.ManagementFactory;
import java.nio.ByteBuffer;
import java.util.*;
import java.util.function.Supplier;

/** Dumps its own live heap to args[0]: a 3000-node chain held by one
 *  static field, a 20k-entry HashMap, boxed Integers, empty
 *  collections, a direct buffer, an anonymous class and a lambda. */
public class Main {
    static final class Node { Node next; final int id; Node(int id) { this.id = id; } }

    static Node head;
    static final Map<Integer, String> map = new HashMap<>();
    static final List<Object> keep = new ArrayList<>();

    /** Builds the chain in its own frame, so no local holds a node at dump time. */
    static Node chain(int n) {
        Node h = null;
        for (int i = n; i > 0; i--) { Node x = new Node(i); x.next = h; h = x; }
        return h;
    }

    public static void main(String[] args) throws Exception {
        head = chain(3000);
        for (int i = 0; i < 20000; i++) map.put(i, "v" + (i % 500));
        Supplier<String> lambda = () -> "lambda";
        keep.addAll(List.of(lambda, new Object() { public String toString() { return "anon"; } },
                new TreeMap<>(), new LinkedList<>(), ByteBuffer.allocateDirect(1024)));
        ManagementFactory.getPlatformMXBean(HotSpotDiagnosticMXBean.class).dumpHeap(args[0], true);
    }
}
