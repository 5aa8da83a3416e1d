import time
import pyspark.sql.functions as F
from ny_campaign_finance_dedupe_spark.session import get_spark
from ny_campaign_finance_dedupe_spark import synth
from ny_campaign_finance_dedupe_spark.functions import hashing, keygen, normalize
from ny_campaign_finance_dedupe_spark.operators import blocking, clustering, pairs, scoring
from ny_campaign_finance_dedupe_spark.plans.evaluate import evaluate_pairs

t0 = time.time()
spark = get_spark("drive", master="local[8]")
spark.sparkContext.setLogLevel("ERROR")
pages, entities = synth.synth_pages(spark, n_pages=3000, seed=42)
df = normalize.with_ntext(pages).select("url", "ntext")
shingles = keygen.word_ngrams(F.col("ntext"), 3)
df = df.withColumn("shashes", hashing.shingle_hashes(shingles))
df = df.withColumn("sig", hashing.minhash_signature_udf(64)(F.col("shashes")))
df = df.withColumn("simhash", hashing.simhash_udf()(hashing.shingle_hashes(keygen.tokens(F.col("ntext"))))).drop("shashes")
preds = {
    "exact": F.when(F.col("ntext").isNull(), F.array().cast("array<string>")).otherwise(F.array(F.sha2(F.col("ntext"), 256))),
    "mh": hashing.minhash_band_keys(F.col("sig"), bands=16, rows=4),
    "dom_sh": keygen.compound(keygen.domain_key(F.col("url")), hashing.simhash_band_keys(F.col("simhash"), bands=4)),
}
bm = blocking.cap_blocks(blocking.build_blocking_map(df, "url", preds), 200)
cand = pairs.candidate_pairs(bm)
hyd = pairs.hydrate_pairs(cand, df.select("url", "ntext"), "url", ["ntext"])
scored = scoring.score_pairs(scoring.with_features(hyd, "ntext_a", "ntext_b"), scoring.LogisticModel()).select("src", "dst", "score")
cl = clustering.cluster_edges(scored, threshold=0.5)
em = clustering.add_singletons(df, "url", cl)
pred = scored.where(F.col("score") >= 0.5).select("src", "dst")
ev = evaluate_pairs(pred, cand, synth.true_pairs(entities))
print(f"F1={ev.f1:.4f} P={ev.precision:.4f} R={ev.recall:.4f} blocking_recall={ev.blocking_recall:.4f} entity_map={em.count()} wall={time.time()-t0:.1f}s")
