"""Parquet MODULAR ENCRYPTION axis: a regulated 100 TB lake encrypts
column data + footer with per-column keys (AES-GCM, parquet-mr's
PropertiesDrivenCryptoFactory) and fetches key-encryption keys from a
KMS. No managed KMS exists in this sandbox, so tests/java/ carries a
~40-line KmsClient (LocalWrapKMS: master keys from conf, reversible
KEK wrap — parquet itself does the real AES-GCM), compiled at test
time with the JDK that ships with the box and injected via
spark.driver.extraClassPath into a FRESH subprocess JVM (extraClassPath
is launch-time-only, so the shared test session can't be used).

Pinned:
1. write+read roundtrip is value-exact through encryption;
2. the bytes are REALLY encrypted — the encrypted-footer file leads
   with the PARE magic and a plaintext sentinel that appears verbatim
   in an unencrypted twin is absent from the encrypted file's bytes;
3. readers WITHOUT keys fail LOUDLY: DuckDB 1.0 ("is encrypted") and
   pyarrow 16 both refuse — opaque data never silently misreads;
4. wrong-key reads fail loudly too (tamper/rotation mistake surface).
"""

from __future__ import annotations

import base64
import glob
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA_SRC = os.path.join(ROOT, "tests", "java", "sparkgraft", "LocalWrapKMS.java")
SPARK_JARS = "/opt/spark-4.1.2-bin-hadoop3/jars"

SENTINEL = "SECRET-SENTINEL-42-THE-RAVEN-FLIES-AT-MIDNIGHT"

_RUN = """
import base64, sys
from pyspark.sql import SparkSession

jar, out_enc, out_plain, key_b64, wrong = sys.argv[1:6]
spark = (SparkSession.builder.master("local[2]").appName("encwrite")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.extraClassPath", jar)
    .config("spark.executor.extraClassPath", jar)
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
hc = spark.sparkContext._jsc.hadoopConfiguration()
hc.set("parquet.crypto.factory.class",
       "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory")
hc.set("parquet.encryption.kms.client.class", "sparkgraft.LocalWrapKMS")
hc.set("parquet.encryption.key.list", "k1:%s, kf:%s" % (key_b64, key_b64))
df = spark.range(100).selectExpr(
    "id", "id*2 AS v", "concat('{sentinel}-', id) AS s")
(df.coalesce(1).write.mode("overwrite")
   .option("parquet.encryption.column.keys", "k1:v,s")
   .option("parquet.encryption.footer.key", "kf")
   .parquet(out_enc))
df.coalesce(1).write.mode("overwrite").parquet(out_plain)
back = spark.read.parquet(out_enc)
row = back.selectExpr("sum(v) AS sv", "count(*) AS n").collect()[0]
print("ROUNDTRIP", row["sv"], row["n"])
""".replace("{sentinel}", SENTINEL)

# Wrong-key read runs in its OWN subprocess: parquet-mr's KeyToolkit
# caches unwrapped key-encryption keys per JVM (probed: an in-process
# key-list rotation still read fine off the cache), so only a fresh
# JVM actually exercises the wrong-key unwrap path.
_READ_WRONG = """
import sys
from pyspark.sql import SparkSession

jar, out_enc, wrong_key = sys.argv[1:4]
spark = (SparkSession.builder.master("local[2]").appName("encreadwrong")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.extraClassPath", jar)
    .config("spark.executor.extraClassPath", jar)
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
hc = spark.sparkContext._jsc.hadoopConfiguration()
hc.set("parquet.crypto.factory.class",
       "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory")
hc.set("parquet.encryption.kms.client.class", "sparkgraft.LocalWrapKMS")
hc.set("parquet.encryption.key.list", "k1:%s, kf:%s" % (wrong_key, wrong_key))
try:
    spark.read.parquet(out_enc).count()
    print("WRONGKEY READ-OK")   # must not happen
except Exception as e:
    print("WRONGKEY LOUD", type(e).__name__)
"""


@pytest.fixture(scope="module")
def enc_store(tmp_path_factory):
    if shutil.which("javac") is None or shutil.which("jar") is None:
        pytest.skip("no JDK on this machine")
    if not glob.glob(os.path.join(SPARK_JARS, "parquet-hadoop-*.jar")):
        pytest.skip(f"no Spark jar dir at {SPARK_JARS}")
    tmp = tmp_path_factory.mktemp("enc")
    build = tmp / "build"
    (build / "sparkgraft").mkdir(parents=True)
    shutil.copy(JAVA_SRC, str(build / "sparkgraft" / "LocalWrapKMS.java"))
    cp = ":".join(glob.glob(os.path.join(SPARK_JARS, "parquet-*.jar"))
                  + glob.glob(os.path.join(SPARK_JARS, "hadoop-client-api-*.jar")))
    subprocess.run(
        ["javac", "-cp", cp, "sparkgraft/LocalWrapKMS.java"],
        cwd=str(build), check=True, capture_output=True, text=True,
    )
    jar = str(tmp / "localwrapkms.jar")
    subprocess.run(
        ["jar", "cf", jar, "sparkgraft/LocalWrapKMS.class"],
        cwd=str(build), check=True, capture_output=True, text=True,
    )
    out_enc = str(tmp / "enc.parquet")
    out_plain = str(tmp / "plain.parquet")
    key = base64.b64encode(b"0123456789012345").decode()
    r = subprocess.run(
        [sys.executable, "-c", _RUN, jar, out_enc, out_plain, key, "-"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    wrong_key = base64.b64encode(b"FFFFFFFFFFFFFFFF").decode()
    r2 = subprocess.run(
        [sys.executable, "-c", _READ_WRONG, jar, out_enc, wrong_key],
        capture_output=True, text=True, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-1500:]
    return out_enc, out_plain, r.stdout + r2.stdout


def test_encrypted_roundtrip_exact(enc_store):
    out_enc, _, stdout = enc_store
    assert "ROUNDTRIP 9900 100" in stdout, stdout


def test_bytes_really_encrypted(enc_store):
    out_enc, out_plain, _ = enc_store
    f_enc = glob.glob(os.path.join(out_enc, "part-*.parquet"))[0]
    f_plain = glob.glob(os.path.join(out_plain, "part-*.parquet"))[0]
    enc_bytes = open(f_enc, "rb").read()
    assert enc_bytes[:4] == b"PARE"  # encrypted-footer magic
    assert SENTINEL.encode() in open(f_plain, "rb").read()  # twin leaks
    assert SENTINEL.encode() not in enc_bytes  # ciphertext doesn't


def test_keyless_readers_fail_loudly(enc_store):
    out_enc, _, _ = enc_store
    f = glob.glob(os.path.join(out_enc, "part-*.parquet"))[0]
    con = duckdb.connect()
    with pytest.raises(duckdb.Error, match="encrypt"):
        con.execute(f"SELECT COUNT(*) FROM read_parquet('{f}')").fetchone()
    with pytest.raises(OSError):
        pq.read_table(f)


def test_wrong_key_fails_loudly(enc_store):
    _, _, stdout = enc_store
    assert "WRONGKEY LOUD" in stdout, stdout
    assert "WRONGKEY READ-OK" not in stdout


_WRITE_PF = """
import sys
from pyspark.sql import SparkSession

jar, out_pf, key_b64 = sys.argv[1:4]
spark = (SparkSession.builder.master("local[2]").appName("encpf")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.extraClassPath", jar)
    .config("spark.executor.extraClassPath", jar)
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
hc = spark.sparkContext._jsc.hadoopConfiguration()
hc.set("parquet.crypto.factory.class",
       "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory")
hc.set("parquet.encryption.kms.client.class", "sparkgraft.LocalWrapKMS")
hc.set("parquet.encryption.key.list", "k1:%s, kf:%s" % (key_b64, key_b64))
df = spark.range(50).selectExpr("id", "id*3 AS v")
(df.coalesce(1).write.mode("overwrite")
   .option("parquet.encryption.column.keys", "k1:v")
   .option("parquet.encryption.footer.key", "kf")
   .option("parquet.encryption.plaintext.footer", "true")
   .parquet(out_pf))
print("PFSUM", spark.read.parquet(out_pf).agg({"v": "sum"}).collect()[0][0])
"""


def test_plaintext_footer_partial_degradation(enc_store, tmp_path):
    """plaintext.footer=true is the MIXED-sensitivity interop mode: the
    footer and non-sensitive columns stay readable by ANY parquet
    reader while sensitive columns are still AES-GCM'd. Pinned
    (probed): PAR1 magic (not PARE); Spark with keys reads everything;
    a keyless DuckDB reads the UNencrypted column exactly (projection
    means the encrypted chunk is never touched) but fails LOUDLY the
    moment the encrypted column is selected — per-column degradation,
    not all-or-nothing."""
    out_enc, _, _ = enc_store
    jar = os.path.join(os.path.dirname(os.path.dirname(out_enc)), "localwrapkms.jar")
    if not os.path.isfile(jar):
        jar = glob.glob(
            os.path.join(os.path.dirname(os.path.dirname(out_enc)), "**", "localwrapkms.jar"),
            recursive=True,
        )[0]
    out_pf = str(tmp_path / "enc_pf.parquet")
    key = base64.b64encode(b"0123456789012345").decode()
    r = subprocess.run(
        [sys.executable, "-c", _WRITE_PF, jar, out_pf, key],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "PFSUM 3675" in r.stdout  # keyed reader sees everything
    f = glob.glob(os.path.join(out_pf, "part-*.parquet"))[0]
    assert open(f, "rb").read(4) == b"PAR1"
    con = duckdb.connect()
    assert con.execute(
        f"SELECT COUNT(*), SUM(id) FROM read_parquet('{f}')"
    ).fetchone() == (50, 1225)  # unencrypted column exact, keyless
    with pytest.raises(duckdb.Error):
        con.execute(f"SELECT SUM(v) FROM read_parquet('{f}')").fetchone()


_KEYED_SCHEMA = """
import sys

jar, out_enc, key_b64, root = sys.argv[1:5]
sys.path.insert(0, root)
from pyspark.sql import SparkSession
from test_dataengineer2026_spark import tables

spark = (SparkSession.builder.master("local[1]").appName("encschema")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.extraClassPath", jar)
    .config("spark.executor.extraClassPath", jar)
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
hc = spark.sparkContext._jsc.hadoopConfiguration()
hc.set("parquet.crypto.factory.class",
       "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory")
hc.set("parquet.encryption.kms.client.class", "sparkgraft.LocalWrapKMS")
hc.set("parquet.encryption.key.list", "k1:%s, kf:%s" % (key_b64, key_b64))
s = tables.parquet_schema(spark, out_enc)
same = s is not None and (
    spark.read.schema(s).parquet(out_enc).schema == spark.read.parquet(out_enc).schema)
print("KEYED SCHEMA", "SAME" if same else "DIFFERENT", s)
"""


def test_driver_schema_read_of_an_encrypted_footer(enc_store, spark):
    """``tables.parquet_schema`` reads footers with the session's Hadoop
    conf. Without keys the encrypted footer cannot be read: it answers
    None and the inferring read fails as before. With the crypto factory
    and keys set, it reads the footer and equals inference."""
    from test_dataengineer2026_spark import tables

    out_enc, _, _ = enc_store
    assert tables.parquet_schema(spark, out_enc) is None
    with pytest.raises(Exception):
        spark.read.parquet(out_enc)
    jar = os.path.join(os.path.dirname(out_enc), "localwrapkms.jar")
    key = base64.b64encode(b"0123456789012345").decode()
    r = subprocess.run(
        [sys.executable, "-c", _KEYED_SCHEMA, jar, out_enc, key, ROOT],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "KEYED SCHEMA SAME" in r.stdout, r.stdout
