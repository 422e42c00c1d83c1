import org.apache.spark.sql.api.java.UDF3;

/**
 * A5 forward encode: (lon, lat, res) to the signed 64-bit A5 cell id; NULL in, NULL out, and
 * a resolution outside 0..MAX_RES is an error.
 *
 * The NumPy kernel's operations (core/projection.forward, core/hilbert.point_to_s) in the
 * same double-precision order, with Spark's rules where they differ from Java's: greatest
 * and least order NaN above every double and -0.0 as 0.0 (so the face test's NaN = NaN
 * holds), atan2 adds 0.0 to both arguments, and pmod folds a negative remainder once more.
 * The constants replace the marker below at build time (a5pg_spark/jvm/__init__.py).
 */
public final class A5Encode implements UDF3<Double, Double, Integer, Long> {
    /*CONSTANTS*/
    private static final double PI_OVER_5 = Math.PI / 5.0, TWO_PI_OVER_5 = 2.0 * Math.PI / 5.0;
    private static final double TWO_PI = 2.0 * Math.PI, TAN_DM2 = TAN_DM * TAN_DM;

    @Override
    public Long call(Double lon, Double lat, Integer res) {
        if (res != null && (res < 0 || res > MAX_RES))
            throw new IllegalArgumentException("resolution " + res + " out of range 0.." + MAX_RES);
        return lon == null || lat == null || res == null ? null : encode(lon, lat, res);
    }

    /** Spark's double ordering (SQLOrderingUtil.compareDoubles). */
    private static int cmp(double x, double y) { return x == y ? 0 : Double.compare(x, y); }
    private static double greatest(double a, double b) { return cmp(b, a) > 0 ? b : a; }
    private static double least(double a, double b) { return cmp(b, a) < 0 ? b : a; }

    static long encode(double lon, double lat, int res) {
        double rlon = Math.toRadians(lon), rlat = Math.toRadians(lat);
        double vx = Math.cos(rlat) * Math.cos(rlon), vy = Math.cos(rlat) * Math.sin(rlon);
        double vz = Math.sin(rlat);
        int face = 0; // the first axis of greatest dot product
        double best = 0.0;
        for (int f = 0; f < 12; f++) {
            double d = FACE_AXES[f][0] * vx + FACE_AXES[f][1] * vy + FACE_AXES[f][2] * vz;
            if (f == 0 || cmp(d, best) > 0) { best = d; face = f; }
        }
        if (res == 0) return ((long) face << 58) | (1L << 57);

        double[][] r = FACE_ROT[face];
        double wz = r[2][0] * vx + r[2][1] * vy + r[2][2] * vz;
        double wx = r[0][0] * vx + r[0][1] * vy + r[0][2] * vz;
        double wy = r[1][0] * vx + r[1][1] * vy + r[1][2] * vz;
        double z = Math.acos(greatest(-1.0, least(1.0, wz)));
        double azl = (SIGNS[face] * (Math.atan2(wy + 0.0, wx + 0.0) - ALPHAS[face])) % TWO_PI;
        if (azl < 0) azl = (azl + TWO_PI) % TWO_PI;
        int q = Math.min((int) (long) Math.floor(azl / TWO_PI_OVER_5), 4);
        double b = azl - TWO_PI_OVER_5 * q - PI_OVER_5, a = Math.abs(b);
        double ap = Math.atan(TAN_36 * (a - Math.asin(Math.sin(a) / K)) / AREA_TOT);
        double cze = Math.cos(a) / Math.sqrt(Math.cos(a) * Math.cos(a) + TAN_DM2);
        double re = TAN_DM / Math.cos(ap);
        double ratio = Math.sqrt(greatest(0.0, 1.0 - Math.cos(z)) / (1.0 - cze));
        double px = re * ratio * Math.cos(ap), py = re * ratio * Math.sin(ap) * (b < 0 ? -1.0 : 1.0);

        // Sierpinski bisection, two bits per level; the first step's cross
        // product sign flips on every step
        double sax = ENTRY_X, say = ENTRY_Y, sbx = APEX_X, sby = APEX_Y, scx = EXIT_X, scy = EXIT_Y;
        long s = 0;
        boolean crPositive = CR_P_POSITIVE;
        for (int i = 2 * (res - 1); i > 0; i--, crPositive = !crPositive) {
            double mx = (sax + scx) * 0.5, my = (say + scy) * 0.5;
            double cr = (mx - sbx) * (py - sby) - (my - sby) * (px - sbx);
            boolean second = crPositive ? cr < 0.0 : -cr < 0.0;
            if (second) { sax = sbx; say = sby; } else { scx = sbx; scy = sby; }
            sbx = mx;
            sby = my;
            s = (s << 1) | (second ? 1L : 0L);
        }
        int p = 59 - 2 * res;
        return ((5L * face + q) << 58) | (s << (p + 1)) | (1L << p);
    }
}
