"""Java UDFs compiled in the driver JVM.

Each ``<Name>.java`` in this package is Janino-compatible Java in package
``anglerfish.jvm``: raw generic types, no lambdas, no diamonds and no
try-with-resources.  :func:`java_udf` compiles every source here with the
Janino compiler that Spark ships for its own code generation (reached
through py4j), zips the class files into a jar under the per-process root,
adds the jar to the SparkContext once (``ADD JAR``, so that executors can
deserialize the UDF) and loads the class through the session's jar class
loader.  This module is the engine's only place that adds jars or touches
that class loader.
"""

from __future__ import annotations

import glob
import os
import threading
import zipfile

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..memo import Memo, fresh_dir

PACKAGE = "anglerfish.jvm"

#: SparkContext -> the session jar class loader holding this package's jar
_LOADERS = Memo(8)
_LOCK = threading.Lock()


def compile_sources(spark: SparkSession, sources: dict[str, str]) -> dict[str, bytes]:
    """Class files by jar entry name for ``{file name: Java source}``.  A
    source Janino rejects raises ``RuntimeError`` carrying Janino's
    ``File '<name>', Line <n>, Column <m>`` diagnostic."""
    jvm = spark._jvm  # noqa: SLF001 - the py4j seam this package exists for
    res = jvm.org.codehaus.commons.compiler.util.resource
    units = spark.sparkContext._gateway.new_array(res.Resource, len(sources))  # noqa: SLF001
    for i, (name, text) in enumerate(sources.items()):
        units[i] = res.StringResource(name, text)
    out = res.MapResourceCreator()
    compiler = jvm.org.codehaus.janino.Compiler()
    compiler.setIClassLoader(jvm.org.codehaus.janino.ClassLoaderIClassLoader(_jar_loader(spark)))
    compiler.setClassFileCreator(out)
    try:
        compiler.compile(units)
    except Py4JJavaError as ex:
        raise RuntimeError(f"Janino rejected {', '.join(sources)}: {ex.java_exception.getMessage()}") from None
    return {name: bytes(code) for name, code in out.getMap().items()}


def _jar_loader(spark: SparkSession):
    return spark._jsparkSession.sharedState().jarClassLoader()  # noqa: SLF001


def _add_jar(spark: SparkSession):
    here = os.path.dirname(__file__)
    sources = {}
    for path in sorted(glob.glob(os.path.join(here, "*.java"))):
        with open(path, encoding="utf-8") as fh:
            sources[os.path.basename(path)] = fh.read()
    jar = os.path.join(fresh_dir("anglerfish_jvm_"), "anglerfish-jvm.jar")
    with zipfile.ZipFile(jar, "w") as zf:
        for name, code in compile_sources(spark, sources).items():
            zf.writestr(name, code)
    spark.sql(f"ADD JAR '{jar}'")
    return _jar_loader(spark)


def load_class(spark: SparkSession, name: str):
    """The ``java.lang.Class`` of ``anglerfish.jvm.<name>``; the package's
    jar is built and added once per SparkContext."""
    with _LOCK:  # one build and one ADD JAR per context, even under racing callers
        loader = _LOADERS.get_or(spark.sparkContext, lambda: _add_jar(spark))
    return loader.loadClass(f"{PACKAGE}.{name}")


def java_udf(spark: SparkSession, name: str, arg: str, return_type: T.DataType, udf_name: str):
    """A JVM ``UserDefinedFunction`` over ``new anglerfish.jvm.<name>(arg)``,
    a raw ``UDF1`` returning ``return_type``, named ``udf_name`` in plans.

    The typed ``functions.udf(UDF1, DataType)`` overload is called by
    reflection: py4j would otherwise pick the untyped Scala overload, which
    analysis rejects (``UNTYPED_SCALA_UDF``)."""
    jvm = spark._jvm  # noqa: SLF001
    gw = spark.sparkContext._gateway  # noqa: SLF001
    cls = jvm.java.lang.Class

    def classes(*names: str):
        arr = gw.new_array(cls, len(names))
        for i, n in enumerate(names):
            arr[i] = cls.forName(n)
        return arr

    def objects(*values):
        arr = gw.new_array(jvm.java.lang.Object, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    fn = load_class(spark, name).getConstructor(classes("java.lang.String")).newInstance(objects(arg))
    jtype = spark._jsparkSession.parseDataType(return_type.json())  # noqa: SLF001
    udf = cls.forName("org.apache.spark.sql.functions").getMethod(
        "udf", classes("org.apache.spark.sql.api.java.UDF1", "org.apache.spark.sql.types.DataType")
    )
    return udf.invoke(None, objects(fn, jtype)).withName(udf_name)
