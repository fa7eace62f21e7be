"""Capture pre-checkpoint posting-build subtree plans (VERDICT r14
item 7): explain the kernel pipelines that localCheckpoint hides from
the committed query plans for the segment/lifecycle family."""
import sys
from pyspark.sql import functions as F
from hospital_data_engineering_pipeline_end_to_end_project_spark.session import get_spark
from hospital_data_engineering_pipeline_end_to_end_project_spark.plans.relational import load_table
from hospital_data_engineering_pipeline_end_to_end_project_spark.operators import dedupe, multimodal

spark = get_spark(app_name="capture-builds", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
d = load_table(spark, "/root/testdata/sf0.1", "documents")

subtrees = {
    # q147/q173/q174: speech synthesis + decode + gram hash, one map chain
    "audio_gram_postings_build": multimodal.audio_gram_postings(
        multimodal.synthesize_speech_wav(d)),
    # q148: token-video synthesis + EOI walk + gram hash
    "video_gram_postings_build": multimodal.video_gram_postings(
        multimodal.synthesize_token_video(d)),
    # q146/q149: PGM synthesis + dhash
    "dhash_bands_build": multimodal.dhash_bands_from_pgm(
        multimodal.synthesize_minhash_pgm(d)),
    # q143/q145/q150/q151: positional gram postings
    "positional_grams_build": dedupe.positional_gram_hashes(d, "doc_id", "text", k=8),
    # q137/q138/q145: winnowing fingerprints
    "winnow_fp_build": dedupe._winnow_fp_arrays(d, "doc_id", "text", 8, 4),
    # q183-q185: CDC chunks
    "cdc_chunks_build": dedupe.cdc_chunks(d, "doc_id", "text"),
}
for name, df in subtrees.items():
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    with open(f"plans/r15/{name}.txt", "w") as fh:
        fh.write(txt)
    nexch = txt.count("Exchange")
    print(name, "exchanges:", nexch, "mapInPandas:", txt.count("MapInPandas"), "chars:", len(txt))
spark.stop()
