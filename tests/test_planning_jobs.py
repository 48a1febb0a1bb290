"""Opening an index and planning against it submit no Spark job:
artifact handles take their schema from the parquet footers and exact
term lookups read the terms files on the driver."""

from pyspark.sql import functions as F

from blacklab_spark.engine import SearchEngine
from blacklab_spark.index import open_index


def test_open_and_plan_submit_no_jobs(spark, tiny_index_dir, spark_jobs):
    idx = open_index(spark, tiny_index_dir)
    with spark_jobs() as ids:
        idx.terms, idx.doc_meta, idx.postings
        info = idx.lookup_terms(["visa", "application", "visa", "zzzq"])
        plan = SearchEngine(idx).topk("visa application", k=5)
    assert ids == []
    assert plan.collect()
    # same frame the Spark dictionary scan returns
    want = (idx.terms.filter(F.col("term").isin("visa", "application"))
            .select("term", "term_id", "df", "cf").toPandas()
            .sort_values("term_id").reset_index(drop=True))
    assert list(info.columns) == ["term", "term_id", "df", "cf", "idf"]
    assert info.drop(columns="idf").equals(want)
    assert [str(t) for t in info.dtypes] == \
        ["object", "int64", "int64", "int64", "float64"]
    empty = idx.lookup_terms([])
    assert empty.empty and list(empty.columns) == list(info.columns)
