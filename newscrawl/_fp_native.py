"""Optional native (C/ctypes) kernels for the extract pass: the
rolling_fingerprint and the near-dup gate's MinHash band keys.

The Rabin-Karp min-window fingerprint is the extract kernel's single
largest cost (~610 us/page pure-Python — an inherently sequential
per-byte recurrence that numpy cannot vectorize profitably; measured:
every numpy formulation was slower or marginal). A 40-line C loop is
~40x faster. The gate's band keys cost two md5 evaluations per
word-3-gram shingle: on 30-paragraph synthetic pages (~320 tokens)
1.2 ms/doc through hashlib, 0.22 ms/doc with the digests and slice
minima in C (4-CPU x86 host). This module compiles both kernels into
ONE library, ON DEMAND with the system C compiler into a
content-addressed cached .so; if anything fails — no compiler,
sandboxed tmp, exotic platform — callers fall back to the pure-Python
specs (extract.rolling_fingerprint, extract.minhash_band_keys), and
every wave records which path its host resolved (kernel_flags). The
specs remain the single source of truth:

- the reference oracle always uses the Python spec, so the golden
  article diffs cross-validate native vs Python on every crawl test;
- explicit property tests compare them on adversarial inputs.

Executor-safety: each Python worker process resolves the library
itself on first use (compile once per machine, atomic rename into the
cache path; concurrent compilers race benignly).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

# fp_min: exact C translation of extract.rolling_fingerprint's arithmetic:
# h' = ((h - data[i-w]*top) * B + data[i]) mod M, M = 2^61-1 (Mersenne:
# x mod M folds as (x & M) + (x >> 61)), all intermediates in uint128.
# mh_sig: the md5/min core of extract.minhash_band_keys (tokenizing and
# shingling stay in Python: their \s+/lower() semantics are Unicode's).
_SRC = r"""
#include <stdint.h>
#include <string.h>

#define FP_M  ((((uint64_t)1) << 61) - 1)

static inline uint64_t fold(__uint128_t x) {
    /* x < 2^122 -> canonical residue mod M */
    x = (x & FP_M) + (x >> 61);          /* < 2^62 */
    x = (x & FP_M) + (x >> 61);          /* < M + 2 */
    return (uint64_t)(x >= FP_M ? x - FP_M : x);
}

uint64_t fp_min(const unsigned char *data, int64_t n,
                int64_t w, uint64_t B, uint64_t top) {
    if (n <= 0) return 0;
    if (w > n) w = n;
    __uint128_t h = 0;
    for (int64_t i = 0; i < w; i++)
        h = fold(h * B + data[i]);
    uint64_t best = (uint64_t)h;
    for (int64_t i = w; i < n; i++) {
        /* h - data[i-w]*top (mod M), kept non-negative */
        __uint128_t t = fold((__uint128_t)data[i - w] * top);
        __uint128_t d = (uint64_t)h + (FP_M - (uint64_t)t); /* < 2^62 */
        h = fold(d * B + data[i]);
        if ((uint64_t)h < best) best = (uint64_t)h;
    }
    return best;
}

/* MinHash band signature over n bytes of '\n'-separated shingles:
   out[j*4+k] = min over shingles of the big-endian 32-bit word k of
   md5("j|" + shingle), j in {0, 1} -- the k-th 8-char slice of the
   lowercase hexdigest, compared numerically (same order). MD5 per
   RFC 1321. */
static const uint32_t MD5_K[64] = {
    0xd76aa478, 0xe8c7b756, 0x242070db, 0xc1bdceee, 0xf57c0faf, 0x4787c62a,
    0xa8304613, 0xfd469501, 0x698098d8, 0x8b44f7af, 0xffff5bb1, 0x895cd7be,
    0x6b901122, 0xfd987193, 0xa679438e, 0x49b40821, 0xf61e2562, 0xc040b340,
    0x265e5a51, 0xe9b6c7aa, 0xd62f105d, 0x02441453, 0xd8a1e681, 0xe7d3fbc8,
    0x21e1cde6, 0xc33707d6, 0xf4d50d87, 0x455a14ed, 0xa9e3e905, 0xfcefa3f8,
    0x676f02d9, 0x8d2a4c8a, 0xfffa3942, 0x8771f681, 0x6d9d6122, 0xfde5380c,
    0xa4beea44, 0x4bdecfa9, 0xf6bb4b60, 0xbebfbc70, 0x289b7ec6, 0xeaa127fa,
    0xd4ef3085, 0x04881d05, 0xd9d4d039, 0xe6db99e5, 0x1fa27cf8, 0xc4ac5665,
    0xf4292244, 0x432aff97, 0xab9423a7, 0xfc93a039, 0x655b59c3, 0x8f0ccc92,
    0xffeff47d, 0x85845dd1, 0x6fa87e4f, 0xfe2ce6e0, 0xa3014314, 0x4e0811a1,
    0xf7537e82, 0xbd3af235, 0x2ad7d2bb, 0xeb86d391};
static const unsigned char MD5_S[64] = {
    7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22,
    5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20,
    4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23,
    6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21};

static void md5_block(uint32_t st[4], const unsigned char *p) {
    uint32_t m[16];
    for (int i = 0; i < 16; i++)
        m[i] = (uint32_t)p[4 * i] | ((uint32_t)p[4 * i + 1] << 8) |
               ((uint32_t)p[4 * i + 2] << 16) | ((uint32_t)p[4 * i + 3] << 24);
    uint32_t a = st[0], b = st[1], c = st[2], d = st[3];
    for (int i = 0; i < 64; i++) {
        uint32_t f;
        int g;
        if (i < 16) { f = (b & c) | (~b & d); g = i; }
        else if (i < 32) { f = (d & b) | (~d & c); g = (5 * i + 1) & 15; }
        else if (i < 48) { f = b ^ c ^ d; g = (3 * i + 5) & 15; }
        else { f = c ^ (b | ~d); g = (7 * i) & 15; }
        f += a + MD5_K[i] + m[g];
        a = d; d = c; c = b;
        b += (f << MD5_S[i]) | (f >> (32 - MD5_S[i]));
    }
    st[0] += a; st[1] += b; st[2] += c; st[3] += d;
}

/* md5 of the 2-byte prefix (j, '|') followed by s[0..n) */
static void md5_prefixed(unsigned char j, const unsigned char *s, int64_t n,
                         uint32_t st[4]) {
    unsigned char blk[64];
    st[0] = 0x67452301; st[1] = 0xefcdab89; st[2] = 0x98badcfe; st[3] = 0x10325476;
    blk[0] = j;
    blk[1] = '|';
    int64_t fill = 2, pos = 0;
    for (;;) {
        int64_t take = n - pos < 64 - fill ? n - pos : 64 - fill;
        memcpy(blk + fill, s + pos, (size_t)take);
        fill += take;
        pos += take;
        if (fill < 64) break;
        md5_block(st, blk);
        fill = 0;
    }
    blk[fill++] = 0x80;
    if (fill > 56) {
        memset(blk + fill, 0, (size_t)(64 - fill));
        md5_block(st, blk);
        fill = 0;
    }
    memset(blk + fill, 0, (size_t)(56 - fill));
    uint64_t bits = (uint64_t)(n + 2) * 8;
    for (int i = 0; i < 8; i++) blk[56 + i] = (unsigned char)(bits >> (8 * i));
    md5_block(st, blk);
}

void mh_sig(const unsigned char *buf, int64_t n, uint32_t *out) {
    for (int i = 0; i < 8; i++) out[i] = 0xffffffffu;
    const unsigned char *p = buf, *end = buf + n;
    for (;;) {
        const unsigned char *nl = memchr(p, '\n', (size_t)(end - p));
        const unsigned char *e = nl ? nl : end;
        for (int j = 0; j < 2; j++) {
            uint32_t st[4];
            md5_prefixed((unsigned char)('0' + j), p, e - p, st);
            for (int k = 0; k < 4; k++) {
                uint32_t v = __builtin_bswap32(st[k]);
                if (v < out[j * 4 + k]) out[j * 4 + k] = v;
            }
        }
        if (!nl) break;
        p = nl + 1;
    }
}
"""

_lib: "ctypes.CDLL | bool | None" = None


def _load() -> "ctypes.CDLL | bool":
    global _lib
    if _lib is not None:
        return _lib
    try:
        tag = hashlib.md5(_SRC.encode("utf-8")).hexdigest()[:12]
        # Cache under a per-user 0700 directory, never the shared world-
        # writable tmpdir: CDLL runs library constructors before our
        # parity self-check, so a .so pre-planted by another local user
        # at a predictable shared path would execute arbitrary code.
        cache_root = os.environ.get("XDG_CACHE_HOME") or os.path.join(
            os.path.expanduser("~"), ".cache"
        )
        cache_dir = os.path.join(cache_root, "newscrawl")
        try:
            os.makedirs(cache_dir, mode=0o700, exist_ok=True)
        except OSError:
            cache_dir = tempfile.mkdtemp(prefix="newscrawl_fp_")  # 0700 by spec
        so_path = os.path.join(cache_dir, f"newscrawl_fp_{tag}.so")
        if os.path.exists(so_path):
            st = os.stat(so_path)
            # refuse a cached library we don't own or that others can write
            if st.st_uid != os.getuid() or (st.st_mode & 0o022):
                raise RuntimeError("untrusted cached .so — refusing to load")
        else:
            src_path = so_path + f".{os.getpid()}.c"
            with open(src_path, "w") as f:
                f.write(_SRC)
            tmp_so = so_path + f".{os.getpid()}.tmp"
            subprocess.run(
                ["cc", "-O2", "-shared", "-fPIC", "-o", tmp_so, src_path],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp_so, so_path)  # atomic publish
            os.unlink(src_path)
        lib = ctypes.CDLL(so_path)
        lib.fp_min.restype = ctypes.c_uint64
        lib.fp_min.argtypes = [
            ctypes.c_char_p,
            ctypes.c_int64,
            ctypes.c_int64,
            ctypes.c_uint64,
            ctypes.c_uint64,
        ]
        lib.mh_sig.restype = None
        lib.mh_sig.argtypes = [
            ctypes.c_char_p,
            ctypes.c_int64,
            ctypes.POINTER(ctypes.c_uint32),
        ]
        # self-check both kernels against the Python specs before
        # trusting them (the band probe spans a multi-block shingle)
        from .extract import minhash_band_keys, rolling_fingerprint

        probe = "probe text " * 40 + "end " + "x" * 130
        if _fp_with(lib, probe) != rolling_fingerprint(probe):  # pragma: no cover
            raise RuntimeError("native fingerprint disagrees with spec")
        if _band_keys_with(lib, probe) != minhash_band_keys(probe):  # pragma: no cover
            raise RuntimeError("native minhash disagrees with spec")
        _lib = lib
    except Exception:  # no compiler / sandboxed tmp / anything: fall back
        _lib = False
    return _lib


def _fp_with(lib, text: str) -> str:
    from .extract import _FP_BASE, _FP_MOD, _FP_WINDOW

    data = (text or "").encode("utf-8")
    if not data:
        return "0" * 16
    # top = B^(w-1): only consumed by the rolling loop, which only runs
    # when n > w — where w is exactly _FP_WINDOW (the C side clamps w to
    # n for the single-window case, leaving top unused)
    top = pow(_FP_BASE, _FP_WINDOW - 1, _FP_MOD)
    v = lib.fp_min(data, len(data), _FP_WINDOW, _FP_BASE, top)
    return f"{v:016x}"


def _band_keys_with(lib, text: str) -> list[str]:
    from .extract import format_band_keys, word3_shingles

    shingles = word3_shingles(text)
    if not shingles:
        return []
    # shingles never contain '\n': tokens split on \s+, which matches it
    buf = "\n".join(shingles).encode("utf-8")
    sig = (ctypes.c_uint32 * 8)()
    lib.mh_sig(buf, len(buf), sig)
    return format_band_keys(sig)


def kernel_flags() -> dict[str, bool]:
    """Which path this host's extract kernels resolve to — recorded in
    every wave's snapshot metrics so a fallback is never silent. Both
    kernels live in one library, so they load (or fall back) together."""
    native = bool(_load())
    return {"native_fingerprint": native, "native_minhash": native}


def get_band_keys_fn(fallback):
    """The fastest available MinHash band-key function (see
    get_fingerprint_fn): native md5 over the Python-built shingle set,
    else ``fallback`` (the pure-Python hashlib spec)."""
    lib = _load()
    if not lib:
        return fallback
    return lambda text: _band_keys_with(lib, text)


def get_fingerprint_fn(fallback):
    """The fastest available fingerprint function: the native kernel if
    the cached .so loads (compiling it on first use), else ``fallback``
    (the pure-Python spec). Resolve INSIDE the Arrow kernel so each
    executor worker picks its own path."""
    lib = _load()
    if not lib:
        return fallback
    return lambda text: _fp_with(lib, text)
