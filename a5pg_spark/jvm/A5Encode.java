import org.apache.spark.sql.api.java.UDF3;

/**
 * A5 forward encode: (lon, lat, res) to the signed 64-bit A5 cell id.  A NULL, NaN or infinite
 * lon or lat gives NULL; a resolution outside 0..MAX_RES is an error.
 *
 * The projection performs the NumPy kernel's double-precision operations (core/projection.forward)
 * in the same order; atan2 adds 0.0 to both arguments, as Spark's does, and pmod folds a negative
 * remainder once more.  The bisection is core/hilbert.point_to_s's exact integer
 * recurrence on the point's barycentric weights, so it agrees with NumPy whatever the rounding.
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
        if (lon == null || lat == null || res == null) return null;
        return Double.isFinite(lon) && Double.isFinite(lat) ? encode(lon, lat, res) : null;
    }

    static long encode(double lon, double lat, int res) {
        double rlon = Math.toRadians(lon), rlat = Math.toRadians(lat);
        double vx = Math.cos(rlat) * Math.cos(rlon), vy = Math.cos(rlat) * Math.sin(rlon);
        double vz = Math.sin(rlat);
        int face = 0; // the first axis of greatest dot product
        double best = 0.0;
        for (int f = 0; f < 12; f++) {
            double d = FACE_AXES[f][0] * vx + FACE_AXES[f][1] * vy + FACE_AXES[f][2] * vz;
            if (f == 0 || d > best) { best = d; face = f; }
        }
        if (res == 0) return ((long) face << 58) | (1L << 57);

        double[][] r = FACE_ROT[face];
        double wz = r[2][0] * vx + r[2][1] * vy + r[2][2] * vz;
        double wx = r[0][0] * vx + r[0][1] * vy + r[0][2] * vz;
        double wy = r[1][0] * vx + r[1][1] * vy + r[1][2] * vz;
        double z = Math.acos(Math.max(-1.0, Math.min(1.0, wz)));
        double azl = (SIGNS[face] * (Math.atan2(wy + 0.0, wx + 0.0) - ALPHAS[face])) % TWO_PI;
        if (azl < 0) azl = (azl + TWO_PI) % TWO_PI;
        int q = Math.min((int) (long) Math.floor(azl / TWO_PI_OVER_5), 4);
        double b = azl - TWO_PI_OVER_5 * q - PI_OVER_5, a = Math.abs(b);
        double ap = Math.atan(TAN_36 * (a - Math.asin(Math.sin(a) / K)) / AREA_TOT);
        double cze = Math.cos(a) / Math.sqrt(Math.cos(a) * Math.cos(a) + TAN_DM2);
        double re = TAN_DM / Math.cos(ap);
        double ratio = Math.sqrt(Math.max(0.0, 1.0 - Math.cos(z)) / (1.0 - cze));
        double px = re * ratio * Math.cos(ap), py = re * ratio * Math.sin(ap) * (b < 0 ? -1.0 : 1.0);

        int p = 59 - 2 * res;
        return ((5L * face + q) << 58) | (bisect(px, py, res) << (p + 1)) | (1L << p);
    }

    /**
     * The Sierpinski digits of a sector-frame point, as core/hilbert.point_to_s: the entry and
     * exit weights (alpha, gamma) in units of 1/ONE, rounded half-even once and clamped to the
     * triangle, then one exact integer step per digit.
     */
    public static long bisect(double px, double py, int res) {
        double t = px * WX, u = py * WY;
        long alpha = (long) Math.rint(Math.min(Math.max(t - u, 0.0), (double) ONE));
        long gamma = Math.min((long) Math.rint(Math.min(Math.max(t + u, 0.0), (double) ONE)), ONE - alpha);
        long s = 0;
        for (int i = 2 * (res - 1); i > 0; i--) {
            long beta = ONE - alpha - gamma;
            if (alpha < gamma) { // second child (Q, M, R)
                s = s << 1 | 1L;
                gamma -= alpha;
                alpha = beta;
            } else { // first child (P, M, Q)
                s <<= 1;
                alpha -= gamma;
                gamma = beta;
            }
        }
        return s;
    }
}
