package graft.vcf

/** Typed data model for parsed gVCF records (FIXTURES.md §2; reference
  * `steps/Parser.scala:9-65`). Encoded with `Encoders.product` — Spark maps
  * these to nested StructType columns, queryable with dotted paths.
  */
case class SampleCall(
    gt: String, dp: Int, gq: Int, pl: String, ad: String,
    multiallelic: Boolean, sampleId: String, diploid: Boolean)

case class FunctionalEffect(
    effect: String, effect_impact: String, functional_class: String,
    codon_change: String, amino_acid_change: String, amino_acid_length: String,
    gene_name: String, transcript_biotype: String, gene_coding: String,
    transcript_id: String, exon_rank: String, geno_type_number: Int)

case class Predictions(
    sift_pred: String, sift_score: Double,
    polyphen2_hvar_pred: String, polyphen2_hvar_score: Double,
    mutation_taster_pred: String,
    phylop46way_placental: String, gerp_rs: String, siphy_29way_pi: String,
    cadd_phred: Double, clinvar: String, clnacc: String, rs: String)

case class Populations(
    esp6500_aa: Double, esp6500_ea: Double,
    gp1_afr_af: Double, gp1_asn_af: Double, gp1_eur_af: Double, gp1_af: Double,
    exac: Double)

case class Variant(
    chrom: Int, pos: Int, end_pos: Int, ref: String, alt: String,
    indel: Boolean, sample: SampleCall,
    effects: Seq[FunctionalEffect],
    predictions: Predictions, populations: Populations)
